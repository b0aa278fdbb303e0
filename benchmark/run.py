#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 benchmark/run.py --workload kv_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark driver
from source on first use (benchmark/build.sbt, output under
benchmark/target), runs the workload in one JVM, checks its outputs,
writes a result file under benchmark/results/ named by workload, seed,
cpus and run id, prints every metric by name and unit, and prints as the
last stdout line one JSON object: correct, attempted, failed, metrics.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics from a traced run. `--selftest` runs the benchmark's self-tests.
See benchmark/README.md.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
WORKLOADS = ("kv_mixed", "olap_scan")
# The JVM must finish inside the per-run limit, build excluded.
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + driver with sbt unless the stamp matches; return the
    runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            st = json.load(f)
        if st.get("sources") == digest:
            return st["classpath"], digest
    log("building engine and benchmark driver (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"sources": digest, "classpath": cp}, f)
    return cp, digest


def cpus():
    """Spark local[N]: every cpu of the host."""
    return os.cpu_count() or 1


def cpu_times():
    """Aggregate cpu jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_frac(t0, t1):
    """Share of cpu time the hypervisor gave to other guests between two
    cpu_times() readings (field 8 of /proc/stat's cpu line): a noisy
    window shows here. None where it cannot be read."""
    if len(t0) < 8 or len(t1) < 8 or sum(t1) <= sum(t0):
        return None
    return (t1[7] - t0[7]) / (sum(t1) - sum(t0))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_jvm(cp, workload, seed, seconds, trace, work, out, logf, extra=()):
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work,
              "--out", out, "--cpus", str(cpus())] + list(extra))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc


def oracle_check(spec_path):
    """Hash-compare each olap query result against its DuckDB twin over the
    same generated tables (the comparison of tools/oracle_check.py, by
    order-independent digest: floats rounded to 6 decimals). Returns
    (attempted, failures)."""
    import duckdb
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tdir = spec["tables_dir"]
    for t in sorted(os.listdir(tdir)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tdir}/{t}/*.parquet')")
    failures = []

    def digest(rel):
        cols = con.execute(f"DESCRIBE SELECT * FROM ({rel})").fetchall()
        exprs = []
        for name, typ, *_ in sorted(cols):
            q = f'"{name}"'
            t = typ.upper()
            if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
                exprs.append(f"round(CAST({q} AS DOUBLE), 6)")
            elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                       "USMALLINT", "UINTEGER", "UBIGINT"):
                exprs.append(f"CAST({q} AS BIGINT)")
            elif t.startswith("TIMESTAMP"):
                exprs.append(f"CAST({q} AS TIMESTAMP)")
            else:
                exprs.append(f"CAST({q} AS VARCHAR)")
        row = ", ".join(exprs)
        n, s1, s2 = con.execute(
            f"SELECT count(*), sum(hash({row}) % 1000000007), bit_xor(hash({row})) "
            f"FROM ({rel})").fetchone()
        return [c for c, *_ in sorted(cols)], (n, s1, s2)

    for name, sql in sorted(spec["queries"].items()):
        try:
            got_cols, got = digest(f"SELECT * FROM read_parquet('{spec['results_dir']}/{name}/*.parquet')")
            want_cols, want = digest(sql)
            if got_cols != want_cols:
                failures.append(f"{name}: columns {got_cols} != {want_cols}")
            elif got != want:
                failures.append(f"{name}: digest {got} != {want}")
        except Exception as e:  # a failed comparison counts as a wrong result
            failures.append(f"{name}: {e}")
    return len(spec["queries"]), failures


def run_once(args, cp, digest):
    tag = f"{args.workload}_s{args.seed}_c{cpus()}_t{int(args.trace)}_{int(time.time() * 1000):x}{os.getpid()}"
    results = os.path.join(HERE, "results")
    work = os.path.join(HERE, "work", tag)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    logf = os.path.join(results, tag + ".log")
    t0 = cpu_times()
    try:
        rc = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work, out, logf)
        if rc != 0 or not os.path.exists(out):
            with open(logf) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"workload run failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        oracle_path = os.path.join(work, "oracle.json")
        if os.path.exists(oracle_path):
            n, fails = oracle_check(oracle_path)
            res["attempted"] += n
            res["failed"] += len(fails)
            res["failures"] = res.get("failures", []) + fails
            res["oracle_checked"] = n
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["host"]["cpu_steal_frac"] = steal_frac(t0, cpu_times())
    res["host"]["git_commit"] = git_commit()
    res["host"]["source_sha256"] = digest
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    return res, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found: run from a repository checkout")
    cp, digest = build()
    if args.selftest:
        import selftest
        raise SystemExit(selftest.main(cp, digest))
    if not args.workload:
        raise SystemExit("--workload is required")
    res, out = run_once(args, cp, digest)
    section = "per_layer" if args.trace else "end_to_end"
    metrics = res[section]
    for name, m in metrics.items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print(f"attempted={res['attempted']} failed={res['failed']} result_file={os.path.relpath(out, ROOT)}")
    for f in res.get("failures", [])[:10]:
        print(f"FAILED: {f}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
