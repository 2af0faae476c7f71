#!/usr/bin/env python3
"""DAM benchmark launcher.

    python3 dambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark
from source (sbt, offline) when the sources changed since the last
build, generates the seeded input tables, runs the workload in one JVM
(`dambench.Main`), checks its outputs and prints the result as the last
line of standard output: one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics of BENCHMARK.json; with `--trace 1` the per-layer
ones. A line before it, starting with `#`, carries every metric the
workload measured under its own name, with the run's notes.

`--plant` plants a wrong output after the run, to show the checks
catch it (the result then reads `"correct": false`).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ["monitor_live", "curation_batch"]
TABLES = {"monitor_live": {"events"}, "curation_batch": {"documents", "embeddings"}}
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"dambench: {msg}", file=sys.stderr)
    sys.exit(1)


def registered():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for p in sorted(f for f in files if os.path.isfile(f)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, what, **kw):
    """Run `cmd` in its own process group and wait for it; on a timeout
    or an interruption kill the whole group and reap it. Returns the
    exit code and the captured standard output, if any."""
    try:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    except OSError as e:
        fail(f"{what} could not start: {e}")
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out or ""
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{what} did not finish within {timeout} s")
        raise


def classpath():
    """Build with sbt unless the sources are unchanged; return the
    runtime classpath of the benchmark (program classes included)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        cp_file = os.path.join(BUILD, "classpath")
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos}")
        t0 = time.time()
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, "the build", cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        lines = out.strip().splitlines()
        cp = lines[-1] if lines else ""
        if code != 0 or not cp or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
            sys.stderr.write(out[-4000:])
            fail("build failed")
        print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def run_jvm(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the resident set then tracks the
    # program's native and off-heap memory, not the collector's timing
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "dambench.Main"] + args
    return run_group(cmd, JVM_TIMEOUT_S, "the workload", cwd=work, stdout=sys.stderr)[0]


def frame_digest(df):
    """Order-free digest of a result: columns by name, values as text,
    rows sorted (the comparison the repository's parity tool makes)."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    rows = sorted(map(tuple, df.itertuples(index=False)))
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def oracle_check(result, data_dir, out_dir, seed, plant):
    """Each curation row's Spark output digest must equal the digest of
    the DuckDB oracle SQL that SparkEntry declares for the row, run over
    the same input tables. Oracle digests are cached per seed and SQL."""
    import duckdb
    import pandas as pd
    import gen
    cache_file = os.path.join(WORK, "oracle-digests.json")
    cache = json.load(open(cache_file)) if os.path.isfile(cache_file) else {}
    con = None
    rows = result["notes"]["oracle_rows"].split(",")
    for row in rows:
        sql = open(os.path.join(out_dir, f"{row}.sql")).read()
        key = hashlib.sha256(f"{gen.VERSION}:{seed}:{row}:{sql}".encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in glob.glob(os.path.join(data_dir, "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
            cache[key] = frame_digest(con.execute(sql).fetchdf())
        parts = sorted(glob.glob(os.path.join(out_dir, row, "*.parquet")))
        got = pd.concat([pd.read_parquet(p) for p in parts]) if parts else pd.DataFrame()
        if plant and row == rows[-1]:
            got = got.iloc[1:]
        ok = frame_digest(got) == cache[key]
        result["attempted"] += 1
        if not ok:
            result["failed"] += 1
            result["failures"].append(f"{row}: output digest differs from the DuckDB oracle's")
    tmp = cache_file + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_file)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", action="store_true")
    a = ap.parse_args()
    # a terminated launcher still stops and reaps the workload's JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    e2e, layers = registered()
    cp = classpath()
    import gen
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        gen.write_tables(data, a.seed, TABLES[a.workload])
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        jvm_args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, work, out]
        code = run_jvm(cp, jvm_args + (["plant"] if a.plant else []), work)
        if code != 0 or not os.path.isfile(out):
            fail(f"the workload exited with code {code}")
        result = json.load(open(out))
        result["notes"]["generate_s"] = f"{gen_s:.3f}"
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            kept = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl")
            os.replace(spans, kept)
            result["notes"]["spans"] = os.path.relpath(kept, ROOT)
        if a.workload == "curation_batch":
            oracle_check(result, data, os.path.join(work, "out"), a.seed, a.plant)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    m = result["metrics"]
    m["ok_ratio"] = {"value": (result["attempted"] - result["failed"]) / max(1, result["attempted"]),
                     "unit": "ratio"}
    names = layers if a.trace else e2e
    missing = [n for n in names if not isinstance(m.get(n, {}).get("value"), (int, float))
               or not math.isfinite(m[n]["value"])]
    print("# " + json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                             "metrics": m, "notes": result["notes"],
                             "failures": result["failures"], "missing": missing}))
    print(json.dumps({
        "correct": result["failed"] == 0 and not missing,
        "attempted": max(1, int(result["attempted"])),
        "failed": int(result["failed"]),
        "metrics": {n: m[n] for n in names if n not in missing},
    }))


if __name__ == "__main__":
    main()
