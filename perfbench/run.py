#!/usr/bin/env python3
"""Dump-to-Postgres benchmark of wikidata2pgspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (sbt, offline) into `target/` directories; later runs reuse the
build while the sources are unchanged. Everything the benchmark writes
goes under `.bench_build/perfbench/`.

One run:
  1. generates a Wikidata dump from the seed (cached per seed and size,
     outside every timed region and outside set-up);
  2. starts a Postgres server of its own inside the work directory;
  3. runs `perfbench.Bench` in one JVM: set-up rounds, then the
     workload's iteration back to back for --seconds;
  4. checks the outputs against a DuckDB replay of the engine's own
     oracle SQL over the plain dump;
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 they are its per-layer metrics, and the spans and counters go
to `.bench_build/perfbench/trace-<workload>-<seed>.json`.
`--negative-control 1` deletes one output row after every iteration, so
the checks must fail: the run then reports every iteration as failed.
"""
import argparse
import getpass
import hashlib
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN = os.path.join(WORK, "run")
DEADLINE_S = 170

# The dump twin each workload reads. Both read the same dump of a seed,
# so it is generated once for both.
WORKLOADS = {"wd_load_bz2": "bz2", "wd_read_plain": "plain"}
# Entities per dump, and files per twin. 8000 entities (about 100k
# statements, 40 MB plain, 2 MB bz2) keep one iteration at 2-6 s on
# 4 cores, so a 10 s run holds several.
ENTITIES, PARTS = 8000, 8
# Dumps kept in the cache; the least recently used are deleted.
CACHE_KEEP = 12


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sh(cmd, **kw):
    return subprocess.run(cmd, check=True, **kw)


# ---- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in
             ("build.sbt", "project/build.properties", "src/main")]
    roots += [os.path.join(BENCH, p) for p in
              ("build.sbt", "project/build.properties", "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; returns (classpath, jvm flags)."""
    for p in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, p)):
            die(f"no engine source at {p}: run from the root of a checkout", 2)
    launch = os.path.join(BENCH, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts.append(f"-Dsbt.repository.config={repos}")
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=850).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (exit {rc}), log in {log}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().split("\n")
    return lines[0], [x for x in lines[1:] if x]


# ---- inputs -----------------------------------------------------------------

def dump(cp, jvm, seed, twin):
    """The seeded dump's plain twin and `twin`; generated once per seed."""
    base = os.path.join(WORK, "data")
    out = os.path.join(base, f"wd-s{seed}-n{ENTITIES}-p{PARTS}")
    if not os.path.exists(os.path.join(out, f"_DONE.{twin}")):
        os.makedirs(base, exist_ok=True)
        sh(["java", *jvm, "-Xmx1g", "-cp", cp, "perfbench.GenDump",
            out, str(seed), str(ENTITIES), str(PARTS), twin],
           stdout=sys.stderr, timeout=120)
    os.utime(out)
    cached = sorted((os.path.join(base, d) for d in os.listdir(base)),
                    key=os.path.getmtime, reverse=True)
    for old in cached[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return os.path.join(out, "plain"), os.path.join(out, twin)


# ---- Postgres ---------------------------------------------------------------

def pg_prefix():
    # Postgres refuses to run as root: as root, run the server in a user
    # namespace where the same files belong to an unprivileged id.
    if os.geteuid() == 0:
        return ["unshare", "-U", "--map-user=1000", "--map-group=1000"]
    return []


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def pg_stop(data):
    if os.path.exists(os.path.join(data, "postmaster.pid")):
        subprocess.run([*pg_prefix(), "pg_ctl", "-D", data, "-m", "immediate",
                        "-w", "stop"], stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=60)


# ---- checks -----------------------------------------------------------------

def digest(con, rel, cols):
    """Row count and an order-independent digest of `rel` over `cols`."""
    row = ", ".join(f'"{c}"' for c in cols)
    return con.sql(f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
                   f"FROM {rel}").fetchone()


def replay(con, name, sql, fixture, plain):
    """Materialise an engine oracle over the plain dump as table `name`."""
    if f"'{fixture}'" not in sql:
        die(f"oracle no longer reads the fixture {fixture}; cannot replay it")
    sql = sql.replace(f"'{fixture}'", f"'{plain}/part-*.ndjson'")
    con.execute(f"CREATE OR REPLACE TABLE {name} AS {sql}")
    return [(r[0], r[1]) for r in con.sql(f"DESCRIBE {name}").fetchall()]


def check_load(res, plain):
    """Loaded table vs the etl_wikidata_pg oracle: (ok, oracle rows)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    cols = replay(con, "want", res["oracles"]["load"], res["oracle_fixture"], plain)
    spec = ", ".join(f"'{c}': '{t}'" for c, t in cols)
    con.execute(
        f"CREATE TABLE got AS SELECT * FROM read_csv('{res['loaded_csv']}', "
        f"header = false, columns = {{{spec}}}, allow_quoted_nulls = false)")
    names = [c for c, _ in cols]
    want, got = digest(con, "want", names), digest(con, "got", names)
    if want != got:
        print(f"perfbench: load check: oracle {want} != table {got}", file=sys.stderr)
    return want == got, want[0]


def check_read(res, plain):
    """Each key's result vs its Wd oracle: (ok, total rows)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    ok, rows = True, 0
    for key, sql in sorted(res["oracles"].items()):
        out = res["read_outputs"][key]
        cols = sorted(replay(con, "want", sql, res["oracle_fixture"], plain))
        got_types = dict((r[0], r[1]) for r in con.sql(
            f"DESCRIBE SELECT * FROM read_parquet('{out['path']}/*.parquet')").fetchall())
        if set(got_types) != {c for c, _ in cols}:
            print(f"perfbench: {key}: columns {sorted(got_types)} != {cols}", file=sys.stderr)
            ok = False
            continue
        sel = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in cols)
        con.execute(f"CREATE OR REPLACE TABLE got AS SELECT {sel} "
                    f"FROM read_parquet('{out['path']}/*.parquet')")
        names = [c for c, _ in cols]
        want, got = digest(con, "want", names), digest(con, "got", names)
        if want != got:
            print(f"perfbench: {key}: oracle {want} != result {got}", file=sys.stderr)
            ok = False
        rows += out["rows"]
    return ok, rows


# ---- result -----------------------------------------------------------------

def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative-control", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and its Postgres server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seed < 0:
        die("--seed must be >= 0", 2)
    t_start = time.time()
    os.makedirs(WORK, exist_ok=True)
    end_to_end, per_layer = metric_specs()
    phases = {}

    def phase(name, t0=[t_start]):
        phases[name] = round(time.time() - t0[0], 2)
        t0[0] = time.time()

    cp, jvm = build()
    phase("build")
    t_built = time.time()  # the run's own deadline excludes a first build
    plain, dumped = dump(cp, jvm, a.seed, WORKLOADS[a.workload])
    phase("inputs")

    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(RUN, d))
    data = os.path.join(RUN, "pgdata")
    sh([*pg_prefix(), "initdb", "-D", data, "-U", getpass.getuser(), "-E", "UTF8",
        "--no-sync", "-A", "trust"], stdout=subprocess.DEVNULL, timeout=60)

    # the JVM sets its stage and local dirs itself; no caller's SPARK_*
    # setting may redirect them or change the engine's behaviour
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    result = os.path.join(RUN, "result.json")
    cmd = ["java", *jvm, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={RUN}/tmp", "-cp", cp,
           "perfbench.Bench", "--workload", a.workload, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--dump", dumped, "--work", RUN,
           "--pg-port", str(free_port()), "--pg-prefix", " ".join(pg_prefix()),
           "--negative", str(a.negative_control), "--out", result]
    log = os.path.join(RUN, "jvm.log")
    p = None
    try:
        with open(log, "w") as out:
            p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_built)))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        pg_stop(data)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"benchmark JVM failed ({rc}), log in {log}")
    res = json.load(open(result))
    phase("jvm")

    if a.workload == "wd_load_bz2":
        ok, want_rows = check_load(res, plain)
    else:
        ok, want_rows = check_read(res, plain)
    shutil.rmtree(data, ignore_errors=True)
    phase("check")
    print(f"perfbench: phases (s) {phases}", file=sys.stderr)

    if a.trace:
        layers = dict(res["layers"])
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layers["setup.cold_s"] = res["setup_s"][0]
        trace_file = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "cores": res["cores"],
                       "layers": layers, "iterations": res["trace_iters"],
                       "spans": json.load(open(os.path.join(RUN, "trace.json")))},
                      fh, indent=1)
        print(f"perfbench: trace in {trace_file}", file=sys.stderr)
        attempted = 2 * res["trace_iters"]
        failed = len(res["errors"]) if ok else attempted
        # a layer this workload does not run reads 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer}
    else:
        iters = res["iters"]
        load = a.workload == "wd_load_bz2"
        good = [it for it in iters if it["error"] is None
                and (not load or it["rows"] == want_rows)]
        attempted = len(iters)
        failed = attempted - len(good) if ok else attempted
        timed = good or [it for it in iters if it["error"] is None]
        if not timed:
            die("no iteration completed")
        walls = [it["wall_s"] for it in timed]
        rates = [(it["rows"] if load else want_rows) / it["wall_s"] for it in timed]
        values = {"setup_s": statistics.median(res["setup_s"]),
                  "wall_s": statistics.median(walls),
                  "rows_per_s": statistics.median(rates)}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in end_to_end}
        print(f"perfbench: {a.workload} seed {a.seed}: {attempted} iterations, "
              f"walls {[round(x, 3) for x in walls]}, set-up rounds "
              f"{[round(x, 3) for x in res['setup_s']]}", file=sys.stderr)
    print(json.dumps({"correct": bool(ok and failed == 0), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
