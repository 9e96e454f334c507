#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft pipeline engine.

    python3 perfbench/run.py --workload <medallion|lake_ops|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script compiles the engine's sources
together with the benchmark (`perfbench/build.sbt`) when either changed,
generates the workload's inputs from the seed into a fresh per-run
directory, runs the workload in one JVM, checks its outputs, and prints one
JSON line: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
the per-layer ones, and the run's spans land in `.bench_out/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Input sizes per workload; see perfbench/README.md for why.
MEDALLION_TRADES, MEDALLION_DAYS = 100_000, 3
LAKE_DAYS, LAKE_ROWS_PER_DAY = 40, 2_000
ANALYTICS_SF = 0.01
# The analytics tables are the same for every seed, as the engine's own
# fixtures are: a query's cost depends on its data, so the seed orders the
# queries within each pass instead of regenerating the tables.
ANALYTICS_DATA_SEED = 42


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, or the installation whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def sources_digest():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; later runs reuse the classes."""
    stamp = os.path.join(BUILD_DIR, "stamp")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("perfbench: compiling engine + benchmark")
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    # sbt's global state and temporary files stay inside the checkout
    opts = (f"{os.environ.get('SBT_OPTS', '')} -Dsbt.global.base={BUILD_DIR}/sbt-global "
            f"-Djava.io.tmpdir={BUILD_DIR}/tmp -Dsbt.server.autostart=false")
    env = dict(os.environ, SPARK_HOME=spark_home(), SBT_OPTS=opts)
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)


def prepare(workload, seed, work):
    if workload == "medallion":
        return gen.write_medallion(work, seed, MEDALLION_TRADES, MEDALLION_DAYS)
    if workload == "lake_ops":
        return gen.write_lake(work, seed, LAKE_DAYS, LAKE_ROWS_PER_DAY)
    if workload == "analytics":
        return gen.write_fixture(os.path.join(work, "fixture"), ANALYTICS_DATA_SEED, ANALYTICS_SF)
    raise SystemExit(f"perfbench: unknown workload {workload}")


def run_jvm(args, work):
    cores = os.cpu_count() or 1
    mem = min(4096, max(2048, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 ** 20 // 4))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{mem}m", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", os.path.join(work, "result.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: workload JVM failed ({r.returncode})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_oracles(work):
    """Each analytics query's last result against its DuckDB oracle over the
    same generated tables: columns sorted by name, rows sorted, exact."""
    import duckdb
    fx, res = os.path.join(work, "fixture"), os.path.join(work, "results")
    con = duckdb.connect()
    for f in os.listdir(fx):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{fx}/{f}'")
    oracles = json.load(open(os.path.join(res, "oracle_sql.json")))

    def canon(rel):
        df = rel.df()
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime") or str(df[c].dtype) == "object":
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    failed = []
    for name, sql in sorted(oracles.items()):
        try:
            got = canon(con.sql(f"SELECT * FROM '{res}/{name}/*.parquet'"))
            want = canon(con.sql(sql))
            ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
        except Exception as e:  # a failing oracle is a failed operation
            log(f"perfbench: oracle {name} raised {e}")
            ok = False
        if not ok:
            log(f"perfbench: {name} differs from its DuckDB oracle")
            failed.append(name)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    build()

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        prepare(args.workload, args.seed, work)
        log(f"perfbench: inputs generated in {time.time() - t:.1f}s")
        res = run_jvm(args, work)
        failed = res["failed"]
        correct = bool(res["correct"])
        if args.workload == "analytics":
            bad = check_oracles(work)
            failed += len(bad)
            correct = correct and not bad
        if args.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            os.makedirs(OUT_DIR, exist_ok=True)
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    got = res["layer"] if args.trace else res["e2e"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = {m["name"] for m in wanted}
    unknown = set(got) - names
    if unknown:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], 0.0)
        if v is None:  # NaN: the workload produced no sample for it
            v = 0.0
            correct = correct and bool(args.trace)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    log(json.dumps({"info": res.get("info"), "setup_ms": res.get("setup_ms")}))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
