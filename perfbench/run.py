#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client driving the engine's
public entry points on `local[nproc]`.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the engine and harness (perfbench/build.py, cached), copy the
corpus into `.bench_build/data` (perfbench/corpus.py, cached), build every
workload's expected record once per build (each op's dump checked against
its DuckDB oracle), then run the harness: set up twice, one untimed
warm pass, the workload's fixed number of counted passes in a seeded order,
and further passes, checked but not measured, until `--seconds` have
elapsed. The last stdout line is the JSON result; see perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import metrics  # noqa: E402

T_START = time.monotonic()
BUDGET_S = 175          # the whole run, build included, ends before this
SETUP_REPS = 2
OP_TIMEOUT_S = 30
JAVA_OPTS = [
    "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m", "-Xmx3g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return str(len(os.sched_getaffinity(0)))


def harness(cp, mode, args, timeout, out):
    # temp files and Spark's block-manager dirs stay inside the checkout
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(build.CDS)
           else "-XX:ArchiveClassesAtExit=") + build.CDS
    cmd = (["java", f"-Djava.io.tmpdir={tmp}", cds] + JAVA_OPTS +
           ["-cp", cp, "perfbench.Harness", mode] +
           [f"{k}={v}" for k, v in args.items()] +
           [f"lake={build.LAKE}", f"cpus={cpus()}", f"out={out}"])
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out[:-len(".json")] + ".log", "w") as lg:
        # subprocess.run kills and reaps the JVM if it outlives `timeout`
        subprocess.run(cmd, stdout=lg, stderr=subprocess.STDOUT, env=env,
                       timeout=timeout, check=True, cwd=ROOT)
    with open(out) as fh:
        return json.load(fh)


def oracle_canon():
    """`canon` of the repository's oracle gate (scripts/check_oracle.py):
    columns sorted by name, values stringified, rows sorted by every
    column. Its module level only reads argv defaults."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_check(con, dump_dir, op, sql):
    """None when the op's dumped result equals its DuckDB oracle, else the
    reason it does not."""
    canon = oracle_canon()
    got = con.execute(f"SELECT * FROM '{dump_dir}/{op}/*.parquet'").df()
    exp = con.execute(sql).df()
    cg, ce = canon(got), canon(exp)
    if list(cg.columns) != list(ce.columns):
        return f"columns {list(cg.columns)} != {list(ce.columns)}"
    if len(cg) != len(ce):
        return f"rowcount {len(cg)} != {len(ce)}"
    if not cg.equals(ce):
        return "value mismatch"
    return None


def prepare(cp, name, ops, corpus_dir, stamp):
    """The workload's expected record: per op (rows, canonical hash) of an
    engine result that matched the DuckDB oracle, plus the shared layouts
    its ops read (cleared before every set-up). Cached per build, corpus
    and op list."""
    path = os.path.join(build.BUILD, "expected", f"{name}.json")
    if os.path.exists(path):
        rec = json.load(open(path))
        if rec.get("stamp") == stamp:
            return rec
    log(f"building the expected record of {name}")
    import shutil
    import duckdb
    dump_dir = os.path.join(build.BUILD, "dump", name)
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.makedirs(dump_dir)
    d = harness(cp, "dump", {"corpus": corpus_dir, "ops": ",".join(ops),
                             "dumpDir": dump_dir}, timeout=800,
                out=os.path.join(build.BUILD, "dump", f"{name}.json"))
    con = duckdb.connect()
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{corpus_dir}/{t}.parquet'")
    expected, layouts = {}, set()
    for op in ops:
        r = d["ops"][op]
        if "error" in r:
            expected[op] = {"invalid": "dump threw: " + r["error"]}
            continue
        layouts.update(r["layouts"])
        if op not in d["oracles"]:
            raise SystemExit(f"{op} has no DuckDB oracle; the benchmark "
                             "accepts only ops it can check")
        why = oracle_check(con, dump_dir, op, d["oracles"][op])
        expected[op] = ({"rows": r["rows"], "hash": r["hash"]}
                        if why is None else {"invalid": "oracle: " + why})
    shutil.rmtree(dump_dir, ignore_errors=True)
    rec = {"stamp": stamp, "ops": expected, "layouts": sorted(layouts)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    bad = {k: v["invalid"] for k, v in expected.items() if "invalid" in v}
    if bad:
        log(f"{name}: ops without a valid expected result: {bad}")
    return rec


def expected_for(rec):
    """Expected (rows, hash) per op; an op with no valid expected result
    can never match, so each of its samples counts as failed."""
    return {op: (v if "invalid" not in v else {"rows": -1, "hash": "invalid"})
            for op, v in rec["ops"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in spec:
        raise SystemExit(f"unknown workload {a.workload}; have {list(spec)}")

    cp = build.build()
    build_stamp = open(os.path.join(build.BUILD, "classes.stamp")).read()
    # prepare every workload in the first run of a checkout, so that only
    # that run pays for expected records
    t_prep = time.monotonic()
    cdir, crec = corpus.materialize(ROOT)
    exps = {name: prepare(cp, name, w["ops"], cdir, hashlib.sha256(
                json.dumps([build_stamp, crec["key"], w["ops"]]).encode())
                .hexdigest())
            for name, w in spec.items()}
    ops, exp = spec[a.workload]["ops"], exps[a.workload]

    # a run that prepared the checkout gets its full budget after that
    prep_s = time.monotonic() - t_prep
    left = BUDGET_S - (time.monotonic() - T_START) + (
        prep_s if prep_s > 20 else 0.0)
    rec = harness(cp, "run", {
        "corpus": cdir, "ops": ",".join(ops), "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "setupReps": SETUP_REPS,
        "passes": spec[a.workload]["passes"],
        "timeoutSec": OP_TIMEOUT_S, "clear": ",".join(exp["layouts"])},
        timeout=max(30.0, left), out=os.path.join(
            build.BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))

    attempted, failed, mismatched = metrics.failure_counts(
        rec["samples"], expected_for(exp))
    # a throw or timeout fails the check just as a wrong result does
    correct = failed == 0 and all("invalid" not in v
                                  for v in exp["ops"].values())
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"ops={len(ops)} attempted={attempted} failed={failed} "
          f"mismatched={mismatched} "
          f"failed_frac={failed / attempted:.4f} correct={correct}")
    for s in rec["samples"]:
        if "error" in s:
            print(f"  failed: {s['op']} pass {s['pass']}: {s['error']}")

    if a.trace == 0:
        m, detail = metrics.end_to_end(rec, crec["bytes"])
        print(f"  op latency samples={detail['samples']} "
              f"p50 percentile={detail['op_p50_pct']:.3f} "
              f"passes={detail['passes']} corpus_bytes={crec['bytes']} "
              f"peak_rss_mb={detail['peak_rss_mb']:.0f}")
        declared = bench["end_to_end"]
    else:
        m, by_op = metrics.per_layer(rec)
        declared = bench["per_layer"]
        tdir = os.path.join(build.BUILD, "trace")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
        with open(tpath, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": m,
                       "per_op": by_op, "setups": rec["setups"],
                       "passes": rec["passes"]}, fh, indent=1)
        print(f"  per-op trace detail: {os.path.relpath(tpath, ROOT)}")
    out = {d["name"]: {"value": m[d["name"]], "unit": d["unit"]}
           for d in declared}
    for k, v in out.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
