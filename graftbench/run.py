#!/usr/bin/env python3
"""The graft benchmark launcher.

    python3 graftbench/run.py --workload retrieve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the library and the harness
from source (sbt, once per source state), runs one workload in a fresh JVM
with a fixture root of its own, checks the registered rows' answers against
their DuckDB oracle, and prints two JSON lines: a run stamp with the
workload's own metrics, then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones (`--trace 0`) or the per-layer ones
of a traced run (`--trace 1`), as BENCHMARK.json lists them.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
# a run's first call builds (about a minute) and may take 900 s in all; any
# later run must end within 180 s, oracle check included
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 150

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(repo):
    roots = [repo / "src" / "main", BENCH / "src" / "main"]
    files = [repo / "build.sbt", BENCH / "build.sbt"]
    for d in (repo / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_digest(repo):
    h = hashlib.sha256()
    for f in source_files(repo):
        h.update(str(f.relative_to(repo)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(repo, out):
    """Compile library and harness; returns the runtime classpath."""
    digest = source_digest(repo)
    out.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = out / "source.digest", out / "classpath.txt"
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == digest and cp_file.exists():
            return cp_file.read_text().strip(), digest
        cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
               f"-Dsbt.global.base={out / 'sbt-global'}",
               "compile", "export graftbench/Runtime/fullClasspath"]
        log = out / "build.log"
        with open(log, "w") as f:
            rc = subprocess.run(cmd, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        lines = log.read_text().splitlines()
        if rc != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            die(f"build failed (exit {rc}); log in {log}")
        cp_file.write_text(lines[-1].strip())
        stamp.write_text(digest)
        return lines[-1].strip(), digest


def cpu_stat():
    """(loadavg 1 min, steal jiffies, total jiffies) of the machine."""
    load = float(Path("/proc/loadavg").read_text().split()[0])
    fields = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return load, steal, sum(fields)


def stamp_of(before, after):
    (l0, s0, t0), (l1, s1, t1) = before, after
    return {"loadavg_before": l0, "loadavg_after": l1,
            "steal_ratio": (s1 - s0) / max(1, t1 - t0)}


def git_commit(repo):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def oracle_failures(repo, data_dir, out_dir):
    """Registered rows whose reference answer differs from its DuckDB
    oracle, by the repo's own strict comparison (tools/check_oracle.py)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(repo / "tools"))
    from check_oracle import compare
    sqls = json.loads((out_dir / "oracle_sql.json").read_text())
    if not sqls:
        return {}
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(sqls.items()):
        try:
            reason = compare(name, pd.read_parquet(out_dir / "oracle" / name), con.execute(sql).df())
        except Exception as e:  # a crash is a failed check, not a crashed run
            reason = f"check crashed: {e}"
        if reason:
            bad[name] = reason
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["retrieve", "ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    repo = Path.cwd()
    if not (repo / "build.sbt").is_file() or not (repo / "src" / "main" / "scala" / "graft").is_dir() \
            or not (repo / "tools" / "check_oracle.py").is_file():
        die(f"{repo} holds no graft library sources (run from the root of a checkout)")
    spec = json.loads((repo / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    work = repo / ".bench_build"
    classpath, digest = build(repo, work / "graftbench")
    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    run_dir = work / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    root, out = run_dir / "root", run_dir / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    try:
        before = cpu_stat()
        cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={root / 'tmp'}", "-Dspark.ui.enabled=false",
                f"-Dspark.hadoop.hadoop.tmp.dir={root / 'tmp'}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graftbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cores", str(cores), "--root", str(root), "--out", str(out)])
        log = run_dir / "jvm.log"
        with open(log, "w") as f:
            try:
                env = dict(os.environ, SPARK_LOCAL_DIRS=str(root / "spark-local"))
                rc = subprocess.run(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S,
                                    env=env).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        after = cpu_stat()
        if rc != 0 or not (out / "result.json").exists():
            sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
            die(f"harness JVM failed ({rc})")
        res = json.loads((out / "result.json").read_text())
        bad = oracle_failures(repo, root / "data", out)
        failed, attempted = res["failed"], res["attempted"]
        for name, reason in bad.items():
            k = res["ops_by_kind"].get(name, {"count": 0, "failed": 0})
            failed += k["count"] - k["failed"]
            res["errors"].append(f"{name}: oracle mismatch: {reason}")
        for e in res["errors"]:
            print(f"graftbench: failed op {e}", file=sys.stderr)

        metrics = res["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            die(f"harness reported no {missing}")
        res["workload_metrics"]["fail_ratio"]["value"] = failed / max(1, attempted)
        kept = work / "runs-kept"
        kept.mkdir(exist_ok=True)
        key = f"{a.workload}-{a.seed}-{a.seconds}"
        tput = "queries_per_s" if a.workload == "retrieve" else "docs_per_s"
        overhead = None
        if a.trace:
            shutil.copy(out / "spans.json", kept / f"{key}.spans.json")
            plain = kept / f"{key}.untraced.json"
            if plain.exists():
                base = json.loads(plain.read_text())["workload_metrics"][tput]["value"]
                overhead = {"metric": tput, "untraced": base,
                            "traced": res["workload_metrics"][tput]["value"],
                            "ratio": 1 - res["workload_metrics"][tput]["value"] / base}
        else:
            (kept / f"{key}.untraced.json").write_text(json.dumps(res))
        stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                 "nproc": nproc, "cores": cores, "commit": git_commit(repo),
                 "source_digest": digest, "confs": res["confs"],
                 "contention": stamp_of(before, after), "cycles": res["cycles"],
                 "op_seconds": res["op_seconds"],
                 "timed_wall_s": res["timed_wall_s"], "samples": res["samples"],
                 "workload_metrics": res["workload_metrics"],
                 "ops_by_kind": res["ops_by_kind"], "routes": res["routes"],
                 "notes": res["notes"], "oracle_failures": bad,
                 "tracing_overhead": overhead}
        print(json.dumps({"stamp": stamp}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: metrics[m["name"]] for m in wanted}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
