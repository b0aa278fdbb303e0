"""Self-tests of the benchmark itself (python3 benchmark/run.py --selftest).

1. Inputs are a function of the seed: the same seed writes the same files
   with identical data, a different seed different data. Parquet files are
   compared by their decoded tables (schema, metadata, rows in order):
   parquet-mr writes a column's encoding list from a hash set, so its
   footer bytes can differ between JVMs for the same data.
2. A traced run's span self times sum to the client threads' measured wall
   within SPAN_TOLERANCE, and the tracing overhead is reported.
3. The output checks catch a deliberately corrupted result: a kv read whose
   value is off by one cent, and an olap result whose revenue is off by one
   cent (caught by the DuckDB oracle digest, while the other eight queries
   still match).
"""
import hashlib
import json
import math
import os
import shutil

import run

SPAN_TOLERANCE = 0.01


def digests(root):
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            if f.endswith(".parquet"):
                sink = pa.BufferOutputStream()
                table = pq.read_table(p)
                with pa.ipc.new_stream(sink, table.schema) as w:
                    w.write_table(table)
                data = sink.getvalue().to_pybytes()
            else:
                with open(p, "rb") as fh:
                    data = fh.read()
            out[os.path.relpath(p, root)] = hashlib.sha256(data).hexdigest()
    return out


def jvm(cp, workload, seed, seconds, trace, tag, extra=()):
    work = os.path.join(run.HERE, "work", f"selftest-{tag}")
    out = os.path.join(run.HERE, "results", f"selftest-{tag}.json")
    logf = os.path.join(run.HERE, "results", f"selftest-{tag}.log")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    rc = run.run_jvm(cp, workload, seed, seconds, trace, work, out, logf, extra)
    return rc, work, out


def check(ok, what, failures):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        failures.append(what)


def main(cp, digest):
    failures = []
    # 1. determinism of the generated inputs
    gens = []
    for tag, seed in (("gen-a", 1), ("gen-b", 1), ("gen-c", 2)):
        rc, work, _ = jvm(cp, "generate", seed, 1, False, tag)
        check(rc == 0, f"generate seed {seed} exits 0", failures)
        gens.append(digests(work))
        shutil.rmtree(work, ignore_errors=True)
    check(gens[0] and gens[0] == gens[1],
          f"seed 1 twice: {len(gens[0])} generated files, identical data", failures)
    for wl in ("kv_mixed", "olap_scan"):
        a = {k: v for k, v in gens[0].items() if k.startswith(wl)}
        c = {k: v for k, v in gens[2].items() if k.startswith(wl)}
        check(bool(a) and a != c, f"{wl}: seed 2 changes the generated inputs", failures)

    # 2. spans sum to the measured wall; tracing overhead reported
    rc, work, out = jvm(cp, "kv_mixed", 3, 4, True, "trace")
    shutil.rmtree(work, ignore_errors=True)
    check(rc == 0, "traced kv_mixed run exits 0", failures)
    if rc == 0:
        with open(out) as f:
            res = json.load(f)
        pl = res["per_layer"]
        err = pl["bench.span_sum_err_frac"]["value"]
        check(err <= SPAN_TOLERANCE,
              f"span self times sum to client wall within {SPAN_TOLERANCE:.0%} (error {err:.2e})", failures)
        self_sum = sum(res["layer_self_s"].values())
        check(abs(self_sum - res["client_wall_s"]) <= SPAN_TOLERANCE * res["client_wall_s"],
              f"layer self times {self_sum:.3f} s vs client wall {res['client_wall_s']:.3f} s", failures)
        ov = pl["bench.tracing_overhead_frac"]["value"]
        check(math.isfinite(ov) and ov >= 0, f"tracing overhead reported ({ov:.4f} of wall)", failures)
        check(res["failed"] == 0, "traced run has no failed operations", failures)

    # 3. a corrupted result is caught
    rc, work, out = jvm(cp, "kv_mixed", 4, 3, False, "corrupt-kv", ("--corrupt", "1"))
    shutil.rmtree(work, ignore_errors=True)
    if rc == 0:
        with open(out) as f:
            res = json.load(f)
        check(res["failed"] > 0 and any("point_get" in x for x in res["failures"]),
              f"kv: corrupted point_get values counted failed ({res['failed']} of {res['attempted']})",
              failures)
    else:
        check(False, "corrupt kv_mixed run exits 0", failures)
    rc, work, out = jvm(cp, "olap_scan", 4, 1, False, "corrupt-olap", ("--corrupt", "1"))
    if rc == 0:
        n, fails = run.oracle_check(os.path.join(work, "oracle.json"))
        check(len(fails) == 1 and fails[0].startswith("q17_topk"),
              f"olap: oracle flags exactly the corrupted query ({len(fails)} of {n}: {fails})", failures)
    else:
        check(False, "corrupt olap_scan run exits 0", failures)
    shutil.rmtree(work, ignore_errors=True)

    print(f"\n{'ALL SELF-TESTS PASSED' if not failures else f'{len(failures)} SELF-TEST FAILURES'}")
    return 1 if failures else 0
