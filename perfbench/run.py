#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload bbc_paper|query_mix --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
that build while the sources are unchanged. Each run works under
perfbench/.work: bbc_paper generates its corpus from the seed there,
query_mix reads the committed tables in perfbench/tables (the seed orders
its warm passes). The harness runs in one JVM; then the outputs are
checked and one JSON object is printed as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. A run measures one cold
pass whatever --seconds says. See perfbench/README.md.
"""
import argparse
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
TABLES_DIR = os.path.join(HERE, "tables")
DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compiles the program and the harness once per source state."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved = fh.read().split("\n")
        if saved[0] == stamp:
            return saved[1]
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(args, cp, work, tables, deadline):
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores())])
    if tables:
        cmd += ["--tables", tables]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(f"{work}/jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("harness exceeded the time limit")
    with open(f"{work}/jvm.log") as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {proc.returncode}")
    return json.loads(lines[-1])


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_check(work, tables, thrown):
    """Each query's last output against its DuckDB oracle, canonicalized as
    tools/check.py does: columns sorted by name, rows sorted, floats to six
    significant digits. Returns the reasons of the mismatches; a query that
    threw in the harness (named in `thrown`) is already counted. The check
    is restated here rather than imported so that a change to the
    repository's tools cannot change what the benchmark accepts."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(f"{work}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{work}/out/{name}/*.parquet")
        if not files:
            if not any(f" {name}: " in t for t in thrown):
                bad.append(f"{name}: no output")
            continue
        try:
            s = con.execute(f"SELECT * FROM '{work}/out/{name}/*.parquet'")
            sc, sr = canon_rows([d[0] for d in s.description], s.fetchall())
            o = con.execute(sql)
            oc, orows = canon_rows([d[0] for d in o.description], o.fetchall())
        except Exception as e:  # a query the oracle cannot read counts as failed
            bad.append(f"{name}: {e}")
            continue
        if sc != oc:
            bad.append(f"{name}: columns {sc} != oracle {oc}")
        elif sr != orows:
            bad.append(f"{name}: {len(sr)} rows != oracle {len(orows)} rows")
    return bad


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["bbc_paper", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    deadline = time.time() + DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        raise SystemExit("program sources not found: run from the repository root")
    cp = build()
    deadline = max(deadline, time.time() + 150)

    # earlier runs' directories go; the last traced run's spans stay
    for old in glob.glob(os.path.join(HERE, ".work", "*", "")):
        shutil.rmtree(old, ignore_errors=True)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}")
    os.makedirs(work)
    try:
        tables = TABLES_DIR if args.workload == "query_mix" else None
        rec = run_harness(args, cp, work, tables, deadline)
        failed, problems = int(rec["failed"]), list(rec["problems"])
        attempted = int(rec["attempted"])
        if args.workload == "query_mix":
            bad = oracle_check(work, tables, problems)
            failed += len(bad)
            problems += [f"oracle {b}" for b in bad]
        metrics = rec["metrics"]
        if "error_rate" in metrics:
            metrics["error_rate"]["value"] = failed / attempted
        for pr in problems:
            log(f"check failed: {pr}")
        if args.trace and os.path.exists(f"{work}/spans.jsonl"):
            shutil.copy(f"{work}/spans.jsonl",
                        os.path.join(HERE, ".work", f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
