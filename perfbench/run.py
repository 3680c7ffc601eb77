#!/usr/bin/env python3
"""Benchmark runner for the graft topology compiler.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the program and the
harness (perfbench/build.sbt, cached by a source fingerprint), generates the
workload's inputs from the seed, runs one JVM that warms the workload up and
measures it, checks every output against DuckDB, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it is a JSON record of the
run: host noise (CPU steal share, load average), error rate, unchecked rows
and the names of queries whose counts drift. See perfbench/README.md.
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
WORK = os.path.join(HERE, ".work")
WORKLOADS = {  # name -> input scale factor (0: the run makes its own)
    "batch_suites": 0.01, "stream_serve": 0.0}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DEADLINE_S = 175


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source fingerprint; returns the
    runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) \
            and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name the Spark installation the program "
            "builds against")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, env=env,
            timeout=800)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cps[-1]


def gen_data(seed, sf):
    out = os.path.join(WORK, f"data-sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.check_call([sys.executable, os.path.join(HERE, "datagen.py"),
                               out, str(seed), str(sf)])
        open(os.path.join(out, "done"), "w").close()
    return out


def cpu_times():
    with open("/proc/stat") as fh:
        f = fh.readline().split()[1:]
    v = [int(x) for x in f]
    return sum(v[:8]), v[7]  # total (user..steal), steal


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# --------------------------------------------------------------------- checks
def _con(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def check_batch(data, out):
    """Compare each query's result with its DuckDB oracle the way
    scripts/check_oracle.py does: same column names, no HUGEINT/DECIMAL type
    drift, same rows in order with exact cell values. Returns
    (wrong query names, unchecked query names)."""
    con = _con(data)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    wrong, unchecked = [], []
    for d in sorted(glob.glob(os.path.join(out, "check", "*"))):
        name = os.path.basename(d)
        if name not in oracle:
            unchecked.append(name)
            continue
        try:
            files = glob.glob(os.path.join(d, "*.parquet"))
            grel = con.sql(f"SELECT * FROM read_parquet({files!r})")
            gcols, gtypes = grel.columns, [str(t) for t in grel.types]
            got = grel.fetchall()
            wrel = con.sql(oracle[name])
            wcols, wtypes = wrel.columns, [str(t) for t in wrel.types]
            want = wrel.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            wrong.append(f"{name} (exception {str(e)[:80]})")
            continue
        gt, wt = dict(zip(gcols, gtypes)), dict(zip(wcols, wtypes))
        if sorted(gcols) != sorted(wcols):
            wrong.append(f"{name} (columns)")
            continue
        if any(("HUGEINT" in wt[c] or "DECIMAL" in wt[c]) and wt[c] != gt[c]
               for c in wcols):
            wrong.append(f"{name} (type drift)")
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        wi = [wcols.index(c) for c in sorted(wcols)]
        if len(got) != len(want) or any(
                tuple(_norm(g[j]) for j in gi) != tuple(_norm(w[j]) for j in wi)
                for g, w in zip(got, want)):
            wrong.append(f"{name} (rows)")
    return wrong, unchecked


def check_serve(out):
    """The final store (latest count per key and window) must equal the
    click counts DuckDB computes over the events sent."""
    import duckdb
    con = duckdb.connect()
    ev = os.path.join(out, "check", "serve_events", "*.parquet")
    st = os.path.join(out, "check", "serve_store", "*.parquet")
    diff = con.sql(f"""
        WITH want AS (
          SELECT user_id AS key, ts_ms - ts_ms % 3600000 AS ws_ms,
                 count(*) AS clicks
          FROM '{ev}' WHERE event_type = 'click' GROUP BY ALL),
        got AS (SELECT key, ws_ms, max(clicks) AS clicks FROM '{st}'
                GROUP BY ALL)
        SELECT count(*) FROM want FULL OUTER JOIN got USING (key, ws_ms)
        WHERE want.clicks IS DISTINCT FROM got.clicks""").fetchone()[0]
    return [f"{diff} (key, window) counts differ from DuckDB"] if diff else []


# ----------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(spec_path):
        die("no program sources (src/main/scala/graft) or BENCHMARK.json "
            "next to perfbench/; run from the root of a source checkout")
    spec = json.load(open(spec_path))
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    sf = WORKLOADS[a.workload]
    data = gen_data(a.seed, sf) if sf > 0 else os.path.join(WORK, "no-data")
    os.makedirs(data, exist_ok=True)

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "check"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(WORK, f"last-{a.workload}.log")
    cpu0, steal0, load0 = *cpu_times(), loadavg()
    # a fixed heap and generation split, so memory and GC work do not
    # follow the collector's sizing decisions from run to run
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--out", run_dir])
    try:
        jvm = run_jvm(cmd, log_path, DEADLINE_S - (time.time() - t_start),
                      os.path.join(run_dir, "jvm.json"))
        cpu1, steal1, load1 = *cpu_times(), loadavg()
        record, result = assess(a, spec, jvm, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record["host"] = {"steal_share": (steal1 - steal0) / max(1, cpu1 - cpu0),
                      "load_start": load0, "load_end": load1}
    if a.trace:
        for k, v in record["host"].items():
            result["metrics"][f"host.{k}"]["value"] = float(v)
    record["wall_s"] = time.time() - t_start
    print(json.dumps(record))
    print(json.dumps(result))


def run_jvm(cmd, log_path, timeout, jvm_json):
    """Run the measuring JVM in its own process group; it is killed with its
    children on timeout or when this script is terminated."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("terminated")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run timed out; see {log_path}")
    if rc != 0 or not os.path.exists(jvm_json):
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        die(f"run failed (exit {rc}); see {log_path}")
    return json.load(open(jvm_json))


def assess(a, spec, jvm, data, run_dir):
    """Check the outputs (untimed, after the JVM has exited) and build the
    run record and the result line."""

    attempted, failed = jvm["attempted"], jvm["failed"]
    unchecked, problems = [], []
    if a.workload == "batch_suites":
        wrong, unchecked = check_batch(data, run_dir)
        execs = dict(x.split("=") for x in jvm["notes"].get("executions", []))
        for w in wrong:  # a wrong query: its check and every timed run
            failed += 1 + int(execs.get(w.split(" ")[0], 0))
        problems += wrong
    else:
        problems += check_serve(run_dir)
        if problems:
            failed = attempted
    failed = min(failed, attempted)
    correct = not problems and failed == 0 and attempted > 0

    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            metrics[m["name"]] = {
                "value": float(jvm["layers"].get(m["name"], 0.0)),
                "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            if m["name"] not in jvm["e2e"]:
                die(f"metric {m['name']} missing from the run")
            metrics[m["name"]] = {"value": float(jvm["e2e"][m["name"]]),
                                  "unit": m["unit"]}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "error_rate": failed / max(1, attempted),
              "problems": problems, "unchecked": unchecked,
              "ungated": jvm["ungated"], "errors": jvm["errors"],
              "notes": jvm["notes"]}
    return record, {"correct": correct, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
