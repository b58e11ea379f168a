#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <feed_api|catalog>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness together with the
engine's sources (sbt, once per source change, into .bench_build),
generates the workload's inputs from the seed, runs the system under
test in its own JVM, checks its outputs, and prints one JSON object as
the last line of stdout. A full report, with load averages and nproc,
goes to .bench_build/reports/.
"""
import argparse
import hashlib
import http.client
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("feed_api", "catalog")
CORES = 4
E2E = ("setup_s", "typed_p50_ms", "latency_p90_ms", "throughput_per_s",
       "rss_peak_mb")
UNITS = {"setup_s": "s", "typed_p50_ms": "ms", "latency_p90_ms": "ms",
         "throughput_per_s": "1/s", "rss_peak_mb": "MB"}
# the harness JVM is killed if it has not finished this long after launch
HARNESS_LIMIT_S = 165
sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:2]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---- build ---------------------------------------------------------------

def sources_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    want = sources_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["hash"] == want:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-3000:])
        fail("build failed, see .bench_build/build.log")
    with open(stamp, "w") as f:
        json.dump({"hash": want, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio",
              "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


# ---- feed_api load generator -------------------------------------------

def drive(port, seconds, pool, order, goldens, clients):
    """Closed loop: `clients` threads, each sends its next request when
    the previous one has answered; requests come from one seeded
    sequence in turn. Returns (field, latency_ms, ok) per request and
    the correct requests per second: each client's correct answers
    over the time to its own last answer, summed, so the drain after
    the deadline, with fewer clients busy, is not counted."""
    lock = threading.Lock()
    nxt = [0]
    out = []
    rates = []
    t_start = time.monotonic()
    deadline = t_start + seconds

    def client():
        n_ok = 0
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        while time.monotonic() < deadline:
            with lock:
                i = order[nxt[0] % len(order)]
                nxt[0] += 1
            body = json.dumps({"query": pool[i]["query"]})
            t0 = time.monotonic()
            try:
                conn.request("POST", "/api/v2/graphql", body,
                             {"Content-Type": "application/json"})
                r = conn.getresponse()
                text = r.read().decode("utf-8")
                ok = r.status == 200 and text == goldens[i]
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port,
                                                  timeout=120)
                ok = False
            ms = (time.monotonic() - t0) * 1000
            n_ok += ok
            with lock:
                out.append((pool[i]["field"], ms, ok))
        with lock:
            rates.append(n_ok / (time.monotonic() - t_start))
        conn.close()

    ts = [threading.Thread(target=client) for _ in range(clients)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return out, sum(rates)


# ---- catalog correctness -------------------------------------------------

def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


# MinHash LSH banding finds a true pair with probability
# 1 - (1 - J^4)^8 (k=32, 8 bands): about 0.975 at Jaccard 0.78, the
# similarity of a near-duplicate of a 10-word document. Its oracle is
# the exact pair set, so the row must report only true pairs, each with
# the exact counts, and find at least this share of them.
APPROX_ROWS = {"m01_minhash_pairs": 0.9}


def check_catalog(work):
    """Each row's Spark result against its DuckDB oracle over the same
    generated tables: column names and canonicalized rows must match
    (for APPROX_ROWS: a subset with the floor's recall). Rows without
    an oracle must produce a readable result. Returns the failed rows,
    the number of oracles and each approximate row's recall."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    cat = os.path.join(work, "inputs", "catalog")
    for f in sorted(os.listdir(cat)):
        t = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cat}/{f}'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    recall = {}
    res = os.path.join(work, "results")
    for row in sorted(os.listdir(res)):
        try:
            rel = con.sql(f"SELECT * FROM '{res}/{row}/*.parquet'")
            s_cols, s_rows = rel.columns, rel.fetchall()
            if row not in oracles:
                continue
            o = con.sql(oracles[row])
            got, want = canon(s_rows, s_cols), canon(o.fetchall(), o.columns)
            if sorted(s_cols) != sorted(o.columns):
                bad.append(row)
            elif row in APPROX_ROWS:
                found = set(got) & set(want)
                recall[row] = len(found) / len(want) if want else 1.0
                if len(found) != len(got) or recall[row] < APPROX_ROWS[row]:
                    bad.append(row)
            elif got != want:
                bad.append(row)
        except duckdb.Error as e:
            bad.append(row)
            print(f"perfbench: {row}: {e}", file=sys.stderr)
    return bad, len(oracles), recall


# ---- one run -------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    with open(os.path.join(HERE, "config.json")) as f:
        fa = json.load(f)["workloads"]["feed_api"]
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "nproc": os.cpu_count(), "cores": CORES,
              "load_1m_5m_start": loadavg()}
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen.generate(os.path.join(work, "inputs"), a.seed,
                 "catalog" if a.workload == "catalog" else "social")
    report["inputs_sha256"] = gen.digest(os.path.join(work, "inputs"))
    # the heap is capped, not pinned, so the peak RSS follows what the
    # program uses; no perf-data file, which the JVM would write outside
    # the checkout
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dperfbench.dir=" + HERE, "-Djava.io.tmpdir=" + work]
           + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), work])
    steal0 = cpu_ticks()
    t_launch = time.monotonic()
    log = open(os.path.join(work, "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=log, text=True, cwd=work)
    watchdog = threading.Timer(HARNESS_LIMIT_S, proc.kill)
    watchdog.start()
    result = None
    client = None
    phases = report["setup_phases_s"] = {}
    try:
        for line in proc.stdout:
            if line.startswith("@@phase"):
                phases[line.split()[1]] = time.monotonic() - t_launch
            elif line.startswith("@@ready"):
                setup_s = time.monotonic() - t_launch
                ready = json.loads(line[len("@@ready"):])
                with open(os.path.join(work, "inputs", "social",
                                       "requests.json")) as f:
                    reqs = json.load(f)
                with open(ready["goldens"]) as f:
                    goldens = json.load(f)
                client = drive(ready["port"], a.seconds, reqs["pool"],
                               reqs["order"], goldens, fa["clients"])
                proc.stdin.write("stop\n")
                proc.stdin.flush()
            elif line.startswith("@@timed"):
                setup_s = time.monotonic() - t_launch
            elif line.startswith("@@result"):
                result = json.loads(line[len("@@result"):])
                with open(os.path.join(work, "result.json"), "w") as f:
                    json.dump(dict(result, setup_phases_s=phases), f)
        proc.wait(timeout=60)
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if result is None or proc.returncode != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {proc.returncode} and no result")

    if client is not None:
        reqs_out, throughput = client
        lat = [ms for _, ms, _ in reqs_out]
        attempted = len(reqs_out) + result.get("attempted", 0)
        failed = (sum(1 for r in reqs_out if not r[2]) + result.get("failed", 0)
                  + result["golden_errors"] + result["enrich_failed"])
        fields = sorted({f for f, _, _ in reqs_out})
        by_field = report["api.loaded_ms"] = {f: statistics.median(
            [ms for g, ms, _ in reqs_out if g == f]) for f in fields}
        # the mix is a guess (no traffic data), so it does not weight
        # the headline: each field's median counts the same
        typed = statistics.mean(by_field.values())
        report["api.server_cpu_s_per_req"] = result["server_cpu_s"] / len(
            reqs_out)
        report["requests"] = len(reqs_out)
        if a.trace == 1:
            one = result["api.http_one_client_ms"]
            report["api.queue_ms"] = {f: by_field[f] - one[f] for f in fields}
    else:
        attempted, failed = result["attempted"], result["failed"]
        if a.trace == 0:
            lat = result["latencies_ms"]
            throughput = result["ops_per_s"]
            rows = result["queries.row_s"]
            typed = 1000 * sum(rows.values()) / len(rows)
    if a.workload == "catalog":
        bad, n_oracle, recall = check_catalog(work)
        failed += len(bad)
        report["catalog_oracle_rows"] = n_oracle
        report["catalog_oracle_failed"] = bad
        report["catalog_recall"] = recall
    report.update({k: v for k, v in result.items()
                   if k not in ("latencies_ms",)})
    correct = failed == 0
    if a.trace == 0:
        metrics = {
            "setup_s": setup_s,
            "typed_p50_ms": typed,
            "latency_p90_ms": quantile(lat, 0.9),
            "throughput_per_s": throughput,
            "rss_peak_mb": result["rss_peak_mb"],
        }
        out = {k: {"value": metrics[k], "unit": UNITS[k]} for k in E2E}
        report["latency_samples"] = len(lat)
        report["latency_p50_ms"] = quantile(lat, 0.5)
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        out = {m["name"]: {"value": result[m["name"]], "unit": m["unit"]}
               for m in per_layer}
        spans = os.path.join(BUILD, "reports",
                             f"{a.workload}-s{a.seed}-spans.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        report["spans"] = os.path.relpath(spans, ROOT)
    report["load_1m_5m_end"] = loadavg()
    # CPU time the host took from this machine's vCPUs during the run:
    # co-tenant noise that load averages do not show
    steal1 = cpu_ticks()
    report["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(
        1, steal1[1] - steal0[1])
    report["metrics"] = out
    path = os.path.join(BUILD, "reports",
                        f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    # inputs, store and scratch go; a failed run keeps them for a look
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: report[k] for k in (
        "workload", "seed", "nproc", "load_1m_5m_start", "load_1m_5m_end",
        "cpu_steal_share")}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
