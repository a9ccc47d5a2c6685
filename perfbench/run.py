#!/usr/bin/env python3
"""Ingest-tick and versioned-store benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's JVM side with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md.
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import payload  # noqa: E402
from stub import Stub  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# One query per versioned-store commit protocol: TrainingShards (q439)
# and CowSnapshots (q442).
STORE_QUERIES = ["q439_snapshot_point_history", "q442_cow_point_history"]
ORDERS_ROWS = 15000
# ingest_ref: 10,000 states per tick, each tick one of BODIES distinct
# bodies; the JVM side fans them out to the reference topology.
STATES, BODIES = 10000, 6
WORKLOADS = {"ingest_ref": "ingest", "store_lifecycle": "store"}
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")]:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; return the runtime classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
        if os.path.exists(repos) else ""))
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed (see %s)" % out)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def make_orders(seed, path):
    """A seeded `orders` fixture with the TPC-H-like schema of the engine's
    test data: ORDERS_ROWS orders with dense keys 0..n-1."""
    import duckdb
    con = duckdb.connect()
    con.execute("""
        COPY (SELECT i::BIGINT AS o_orderkey,
                     (hash(i, $s, 1) % 1500)::BIGINT AS o_custkey,
                     ['F', 'O', 'P'][(hash(i, $s, 2) % 3)::INT + 1] AS o_orderstatus,
                     round(900 + (hash(i, $s, 3) % 49900000) / 100.0, 2) AS o_totalprice,
                     TIMESTAMP '1995-01-01' + to_days((hash(i, $s, 4) % 2404)::INT)
                       AS o_orderdate,
                     ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
                       [(hash(i, $s, 5) % 5)::INT + 1] AS o_orderpriority
              FROM range($n) t(i) ORDER BY i)
        TO '@PATH@' (FORMAT PARQUET)""".replace("@PATH@", path.replace("'", "''")),
                {"s": seed, "n": ORDERS_ROWS})
    con.close()


def oracle_results(fixtures, sqls):
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(fixtures):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (f[:-8], os.path.join(fixtures, f)))
    out = {}
    for q, sql in sqls.items():
        res = con.sql(sql)
        out[q] = (list(res.columns), [list(r) for r in res.fetchall()])
    con.close()
    return out


def run_jvm(classpath, args, deadline):
    work = os.path.join(WORK, "run")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # Few malloc arenas, so resident native memory does not depend on
    # which threads happened to allocate first, and freed native memory
    # handed back to the OS every second (TrimNativeHeapInterval), so a
    # short spike does not stay resident for the rest of the run.
    env["MALLOC_ARENA_MAX"] = "2"
    cmd = (["java"] + ADD_OPENS + [
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
        "-XX:TrimNativeHeapInterval=1000", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath, "perfbench.Main", "--work", work,
        "--out", os.path.join(work, "record.json")] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(WORK, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: JVM timed out (see .work/jvm.log)")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: JVM exited with %d" % p.returncode)
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("perfbench: engine sources not found (%s missing)" % need)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    classpath = build()
    deadline = time.time() + a.seconds + 150
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    common = ["--cores", str(cores), "--seconds", str(a.seconds),
              "--trace", str(a.trace)]

    if WORKLOADS[a.workload] == "ingest":
        bodies, aggs = [], []
        for i in range(BODIES):
            states, agg = payload.make_states(a.seed * 1000 + i, STATES)
            bodies.append(states)
            aggs.append(agg)
        with Stub(bodies) as stub:
            rec = run_jvm(classpath, common + [
                "--mode", "ingest", "--url", stub.url], deadline)
        m, attempted, failed, bad = metrics.ingest(rec, stub.served, aggs, a.trace == 1)
    else:
        fixtures = os.path.join(WORK, "fixtures", "seed%d" % a.seed)
        if not os.path.exists(os.path.join(fixtures, "orders.parquet")):
            os.makedirs(fixtures, exist_ok=True)
            make_orders(a.seed, os.path.join(fixtures, "orders.tmp"))
            os.rename(os.path.join(fixtures, "orders.tmp"),
                      os.path.join(fixtures, "orders.parquet"))
        rec = run_jvm(classpath, common + [
            "--mode", "store", "--fixtures", fixtures,
            "--queries", ",".join(STORE_QUERIES)], deadline)
        oracle = oracle_results(fixtures, rec["oracle_sql"])
        m, attempted, failed, bad = metrics.store(
            rec, oracle, ORDERS_ROWS * len(STORE_QUERIES), a.trace == 1)

    if bad:
        log("%d outputs did not match the expected results" % bad)
    print(json.dumps({
        "correct": bad == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not exercise reports 0
        "metrics": {x["name"]: {"value": m.get(x["name"], 0), "unit": x["unit"]}
                    for x in spec},
    }))


if __name__ == "__main__":
    main()
