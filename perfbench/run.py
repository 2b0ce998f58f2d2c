#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the client (perfbench/build.sbt,
which compiles the library's sources with the client's) when the sources
changed, generates the seeded inputs, runs the client JVM, checks every
output against DuckDB or the feed model, prints one report line per
metric (name, value, unit, sample count), a machine-state line, and as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the per-layer ones from the traced half of the run.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("analytics", "lakehouse")
# The share of the sf0.1 row counts the inputs have, and the tables each
# workload reads ("feed" is the ingest feed, built from `events`).
SCALE = 0.125
INPUTS = {
    "analytics": ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"],
    "lakehouse": ["part", "customer", "orders", "lineitem", "feed"],
}
# Set-up repetitions per run; setup_s is their median. The first pays the
# JVM's cold start, the second runs warm.
SETUPS = 2
RUN_LIMIT_S = 175   # a run's wall limit once the client is built
BUILD_LIMIT_S = 850

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
# Gated metrics and their units, as BENCHMARK.json names them.
END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}
# Reported on every run but not gated: zero on a clean run, or defined
# for the lakehouse feed only.
REPORTED = {"failed_frac": "ratio", "freshness_s.p50": "s", "freshness_s.p90": "s",
            "write_amp": "ratio", "space_amp": "ratio"}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the client compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the client (sbt compile)")
    t0 = time.time()
    with open(os.path.join(HERE, "work", "build.log"), "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=BUILD_LIMIT_S)
        except BaseException:  # timed out or interrupted
            p.kill()
            p.wait()
            rc = -1
    if rc != 0:
        sys.exit(f"client build failed (rc={rc}); see perfbench/work/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# --------------------------------------------------------- machine state

def disk_probe(d, mib=32):
    """Sequential write throughput of `mib` MiB with an fsync, in MB/s."""
    path = os.path.join(d, "disk_probe.bin")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mib):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return round(mib * 1.048576 / dt, 1)


def live_jvms():
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as f:
                n += f.read().strip() == "java"
        except OSError:
            pass
    return n


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def machine(d):
    return {"loadavg": list(os.getloadavg()), "live_jvms": live_jvms(),
            "disk_write_mb_s": disk_probe(d)}


# --------------------------------------------------------------- checks

def canon(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (datetime.datetime, np.datetime64)) or type(v).__name__ == "Timestamp":
        import pandas as pd
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.value)
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    return str(v)


def sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return (1, float(f"{v:.6g}"))
        return (2, repr(v))
    return tuple(k(v) for v in row)


def same(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_of(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return [names[i] for i in order], sorted(out, key=sort_key)


def compare(got, want):
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    for i, (x, y) in enumerate(zip(gr, wr)):
        if not same(x, y):
            return f"row {i}: {x} != {y}"
    return None


def saved_rows(path):
    """An output the client saved: a parquet directory, or JSON rows."""
    if path.endswith(".json"):
        with open(path) as f:
            t = json.load(f)
        return rows_of(t["columns"], t["rows"])
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    return rows_of(t.column_names, list(zip(*[c.to_pylist() for c in t.columns])))


def run_checks(checks, data):
    """Verify every recorded output; returns the list of failures."""
    import duckdb
    bad = []
    con = None
    model = None
    for c in checks:
        try:
            got = saved_rows(c["path"])
            if c["kind"] == "silver":
                if model is None:
                    m = gen.feed_model(os.path.join(data, "feed"))
                    model = rows_of(list(m.columns), list(m.itertuples(index=False)))
                want = model
            else:
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET TimeZone = 'UTC'")
                    for p in glob.glob(os.path.join(data, "*.parquet")):
                        t = os.path.basename(p)[:-len(".parquet")]
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
                cur = con.execute(c["sql"])
                want = rows_of([d[0] for d in cur.description], cur.fetchall())
            err = compare(got, want)
        except Exception as e:  # a check that cannot run is a failed check
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err:
            bad.append(f"{c['name']}: {err}")
    return bad


# --------------------------------------------------------------- metrics

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, float), q)) if xs else float("nan")


def main():
    # A terminated run unwinds like an interrupt, so its child stops too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("run from the repository root: the library sources "
                 "(src/main/scala/graft) are not here")
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = build()
    started = time.time()

    at_start = machine(work)
    steal0 = cpu_ticks()
    data = os.path.join(work, "data")
    gen_s, sums = [], []
    for _ in range(SETUPS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        names = [n for n in INPUTS[a.workload] if n != "feed"]
        rows = gen.tables(data, a.seed, SCALE, names,
                          clustered=a.workload == "lakehouse")
        if "feed" in INPUTS[a.workload]:
            rows["feed"] = gen.feed(os.path.join(data, "feed"), a.seed, SCALE)
        with open(os.path.join(data, "rows.json"), "w") as f:
            json.dump(rows, f)
        gen_s.append(time.perf_counter() - t0)
        sums.append(gen.checksum(glob.glob(os.path.join(data, "**", "*.parquet"),
                                           recursive=True)))

    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
           "-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--data", data,
           "--work", work, "--out", out, "--seconds", str(a.seconds),
           "--setups", str(SETUPS), "--trace", str(a.trace)]
    with open(os.path.join(work, "client.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("client exceeded the run limit; see client.log")
        except BaseException:  # interrupted: never leave the client behind
            p.kill()
            p.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"client failed (rc={rc}); see {work}/client.log")
    r = json.load(open(out))

    bad = run_checks(r["checks"], data)
    attempted = r["attempted"] + len(r["checks"])
    failed = r["failed"] + len(bad)
    for e in r["errors"] + bad:
        log(f"FAILED {e}")
    steal1 = cpu_ticks()
    at_end = machine(work)

    q = r["query_s"]
    setup = [g + j for g, j in zip(gen_s, r["setup_jvm_s"])]
    rps = [r["rows_per_pass"] / s for s in r["pass_s"]]
    values = {
        "setup_s": (statistics.median(setup) + r["warmup_s"], len(setup)),
        "query_s.p50": (pct(q, 50), len(q)),
        "query_s.p90": (pct(q, 90), len(q)),
        "rows_per_s": (statistics.median(rps), len(rps)),
        "heap_mb": (r["heap_mb"], 1),
        "failed_frac": (failed / attempted, attempted),
    }
    if a.workload == "lakehouse":
        f = r["freshness_s"]
        values["freshness_s.p50"] = (pct(f, 50), len(f))
        values["freshness_s.p90"] = (pct(f, 90), len(f))
        values["write_amp"] = (statistics.median(r["write_amp"]), len(r["write_amp"]))
        values["space_amp"] = (r["space_amp"], 1)
    units = {**END_TO_END, **REPORTED}
    for name, (v, n) in values.items():
        print(f"{a.workload} {name} = {v:.6g} {units[name]} (n={n})")

    if a.trace:
        layers = dict(r["layers"])
        layers["trace.overhead_s"] = pct(q, 50) - pct(r["untraced_query_s"], 50)
        missing = [m for m in PER_LAYER if m not in layers]
        if missing:
            sys.exit(f"client did not report per-layer metrics {missing}")
        for m, u in PER_LAYER.items():
            print(f"{a.workload} {m} = {layers[m]:.6g} {u}")
        log(f"spans written to {work}/spans.json")
        metrics = {m: {"value": layers[m], "unit": u} for m, u in PER_LAYER.items()}
    else:
        metrics = {m: {"value": values[m][0], "unit": u} for m, u in END_TO_END.items()}

    state = {"workload": a.workload, "seed": a.seed, "scale": SCALE,
             "inputs_checksum": sums[0], "nproc": os.cpu_count(),
             "jdk": r["jdk"], "spark": r["spark_version"],
             "start": at_start, "end": at_end, "passes": len(r["pass_s"]),
             # Share of CPU time the hypervisor gave to other guests.
             "cpu_steal_share": round((steal1[0] - steal0[0])
                                      / max(1, steal1[1] - steal0[1]), 4),
             "rows_per_pass": r["rows_per_pass"]}
    print("machine " + json.dumps(state))
    with open(os.path.join(work, "machine.json"), "w") as f:
        json.dump(state, f)
    correct = failed == 0 and len(set(sums)) == 1
    log(f"run took {time.time() - started:.1f} s after the build")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
