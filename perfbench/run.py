#!/usr/bin/env python3
"""The repository's benchmark: one command for every workload.

    python3 perfbench/run.py --workload serve|gates --seed <n>
                             --seconds <n> --trace 0|1

Run from the root of a checkout. It builds the library and the runner
(`perfbench/build.sbt`, once per source digest, into `.bench_build/`),
generates the seeded inputs (`gen.py`), runs the workload in one JVM,
checks every output against DuckDB (`oracle.py`), and prints as its last
line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
traced run (`--trace 1`). See README.md for what each metric means.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) and
        os.path.isfile(os.path.join(ROOT, "scripts", "oracle_check.py"))):
    sys.exit("perfbench: the library's sources (src/main/scala) and "
             "scripts/oracle_check.py not found; run from the root of a "
             "checkout")

import gen  # noqa: E402
import oracle  # noqa: E402
import serve_configs  # noqa: E402
from stats import describe  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# Input scale per workload (times the sf1 row counts): the gateway serves
# sf0.1 tables; the gates are floor-bound at this size (a gate costs
# about the same at sf0.01 and sf0.1), so they run on sf0.02 to keep a
# run, warm-up included, within the time one run may take.
SCALE = {"serve": 0.1, "gates": 0.02}
# The JVM's share of a run's 180 s, counted after the build: the checks
# and the rest take a few seconds.
JVM_TIMEOUT_S = 160
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect",
              "java.io", "java.net", "java.nio", "java.util",
              "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action",
              "sun.util.calendar"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in _BENCH["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        paths += sorted(p for p in glob.glob(os.path.join(base, "**", "*"),
                                             recursive=True)
                        if os.path.isfile(p))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile once per source digest; returns the run classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{sources_digest()}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(stamp):
            log = os.path.join(BUILD, "build.log")
            with open(log, "w") as out:
                p = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.forcestart=false",
                     f"-Dsbt.global.base={BUILD}/sbt-global",
                     "writeClasspath"],
                    cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=800)
            if p.returncode != 0:
                fail(f"build failed, see {log}")
            shutil.copy(os.path.join(BUILD, "sbt", "classpath.txt"), stamp)
    with open(stamp) as f:
        return f.read().strip()


def run_jvm(cp, workload, data, out, seed, seconds, trace):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    if workload == "serve":
        with open(os.path.join(out, "serve_configs.json"), "w") as f:
            json.dump(serve_configs.spec(), f)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the serve client opens a connection for each request
    cmd += ["-Dhttp.keepAlive=false", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main", "--workload", workload,
            "--data", data, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace), "--seed", str(seed)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "work",
                                                         "spark-local"))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, env=env,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in time, see {out}/jvm.log")
    res = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        fail(f"{workload} run failed (exit {p.returncode}), "
             f"see {out}/jvm.log")
    with open(res) as f:
        return json.load(f)


# ---- correctness ------------------------------------------------------------

def check_gates(res, out, orc):
    problems = []
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    for name, err in res["details"].get("dump_errors", {}).items():
        problems.append(f"{name}: {err}")
    for name in sorted({o["name"] for o in res["ops"]}):
        why = oracle.check_gate(orc, sqls.get(name),
                                os.path.join(out, "dumps", name))
        if why:
            problems.append(f"{name}: {why}")
    return problems, []


def check_serve(res, out, orc):
    """Every served version against its configuration's SQL, and every
    GET body (by digest) against the version it was served for. Returns
    the problems and, apart, the versions whose rows are right but not in
    the order the program sorts them in (a known fault of the gateway
    with a lineage cache: the cached copy is read back in the order of
    its part files)."""
    problems, misordered = [], []
    cfgs = {c["name"]: c for c in serve_configs.CONFIGS}
    digests = {}
    for path in sorted(glob.glob(os.path.join(out, "dumps", "serve",
                                              "*.json"))):
        name, v = os.path.basename(path)[:-5].rsplit("@", 1)
        with open(path, "rb") as f:
            raw = f.read()
        digests[(name, int(v))] = hashlib.sha256(raw).hexdigest()
        c = cfgs[name]
        want = orc.result(c["sql"].replace("{v}", v))
        got = oracle.Table.of_json_rows(json.loads(raw), want.cols)
        why = oracle.compare(got, want, ordered=False, check_types=False)
        if why:
            problems.append(f"{name}@{v}: {why}")
        elif c.get("ordered") and oracle.compare(got, want,
                                                 check_types=False):
            misordered.append(f"{name}@{v}")
    for o in res["ops"]:
        if o["kind"] == "put" or not o["ok"]:
            continue
        d = digests.get((o["name"], o["lit"]))
        if d is None:
            problems.append(f"{o['id']}: no checked body for "
                            f"{o['name']}@{o['lit']}")
        elif d != o["digest"]:
            problems.append(f"{o['id']}: body differs from the checked "
                            f"{o['name']}@{o['lit']}")
    return problems, misordered


# ---- metrics ----------------------------------------------------------------

def latency_ms(o):
    return o["end_ms"] - o["due_ms"]


def per_round(ops, pick):
    """One round of the picked operations at their median: for each
    operation name, the median over rounds of its summed latency in a
    round, added up over the names."""
    by = {}
    for o in ops:
        if pick(o):
            key = (o["name"], o["round"])
            by[key] = by.get(key, 0.0) + latency_ms(o)
    names = {n for n, _ in by}
    return sum(statistics.median(v for (n, _), v in by.items() if n == name)
               for name in names) / 1e3


def computes(o):
    """Operations that compute a new result: every gate run, and on the
    gateway the uploads of the edit passes with the cold GETs after them."""
    return o["kind"] == "gate" or o["family"] == "edits"


def typical_ms(ops):
    """Each operation name's median latency, combined over the names by
    their geometric mean, so that every gate or configuration moves it."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(latency_ms(o))
    return math.exp(statistics.fmean(
        math.log(describe(v)["median"]) for v in by.values()))


def end_to_end(res):
    ops = [o for o in res["ops"] if o["ok"]]
    return {
        "setup_s": res["setup_s"],
        "heap_retained_mb": res["heap_retained_mb"],
        "p50_ms": typical_ms([o for o in ops if o["kind"] != "put"]),
        "total_s": per_round(ops, computes),
    }


def per_layer(res, misordered):
    ops = [o for o in res["ops"] if o["ok"]]
    gets = [latency_ms(o) for o in ops if o["kind"] in ("get", "cold_get")]
    cold = [latency_ms(o) for o in ops if o["kind"] == "cold_get"]
    m = {k: 0.0 for k in PER_LAYER}
    m.update(res["layers"])
    m["server.get_p95_ms"] = describe(gets).get("p95", 0.0)
    m["server.cold_get_p50_ms"] = describe(cold).get("median", 0.0)
    m["loadgen.late_max_ms"] = res["details"].get("generator_late_ms_max",
                                                  0.0)
    for fam in ("dedup", "ann", "tokenize", "pack", "stream"):
        m[f"family.{fam}_s"] = per_round(ops, lambda o: o["family"] == fam)
    m["trace.total_s"] = per_round(ops, computes)
    m["check.misordered"] = len(misordered)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    scale = SCALE[a.workload]
    data = os.path.join(BUILD, "data", f"sf{scale}-seed{a.seed}")
    with open(os.path.join(BUILD, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = gen.ensure(data, a.seed, scale)
    out = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    os.makedirs(out)
    res = run_jvm(cp, a.workload, data, out, a.seed, a.seconds, a.trace)

    orc = oracle.Oracle(data, digest, os.path.join(BUILD, "oracle"))
    problems, misordered = (check_serve if a.workload == "serve"
                            else check_gates)(res, out, orc)
    for p in problems:
        print(f"perfbench: incorrect: {p}", file=sys.stderr)
    if misordered:
        print(f"perfbench: {len(misordered)} served versions hold the right "
              f"rows out of their sorted order: {' '.join(misordered)}",
              file=sys.stderr)
    failed = sum(1 for o in res["ops"] if not o["ok"])
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: failed: {o['id']}: {o['error']}",
                  file=sys.stderr)
    if a.trace:
        units, values = PER_LAYER, per_layer(res, misordered)
    else:
        units, values = END_TO_END, end_to_end(res)
    # keep the last run of each workload (result, spans, dumps) to look at
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)
    last = os.path.join(BUILD, "runs", f"{a.workload}-last")
    shutil.rmtree(last, ignore_errors=True)
    os.rename(out, last)
    print(json.dumps({
        "correct": not problems, "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
