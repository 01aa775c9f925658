"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source when it
changed (perfbench/build.py), generates the input tables from the seed
(perfbench/datagen.py), runs the workload in one JVM at local[4]
(perfbench/scala), checks every output from outside in DuckDB
(perfbench/checks.py) and prints, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics; the full run record (units, spans, per-layer table,
per-query figures, failures by name) goes to perfbench/_runs/.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RUNS = os.path.join(HERE, "_runs")
TIME_LIMIT_S = 170
HEAP = "4g"

JVM_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def load_json(path):
    with open(path) as f:
        return json.load(f)


def run_jvm(args, work, deadline):
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseG1GC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby/derby.log"] + JVM_OPENS +
           ["-cp", build.classpath(), "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: workload exceeded the time limit; see {log_path}")
        finally:
            # never leave the JVM behind: time limit, interrupt or SIGTERM
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: workload JVM failed ({rc}); log tail:\n{tail}")


def outside_checks(kind, record, data, failures):
    con = checks.connect(data)
    def fail(key, err):
        failures[key] = f"{failures[key]}; {err}" if key in failures else err

    if kind == "catalog":
        for name, sql in sorted(record["oracles"].items()):
            path = os.path.join(record["results_dir"], f"{name}.parquet")
            err = ("no oracle SQL" if sql is None else
                   "no result written" if not os.path.isdir(path) else
                   checks.check_query(con, path, sql))
            if err:
                fail(name, err)
    else:
        for unit in record["restored"]:
            for table, stem in sorted(unit["tables"].items()):
                err = checks.check_table(con, table, os.path.join(unit["dir"], stem))
                if err:
                    fail(f"{unit['unit']}/{table}", err)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    started = time.time()

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    build.build()
    # the first run in a checkout builds; every run then gets the full limit
    deadline = time.time() + w.get("time_limit_s", TIME_LIMIT_S) - min(time.time() - started, 5)

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d))
    data = os.path.join(work, "data")
    datagen.generate(data, a.seed, spec["scale"])
    if w["kind"] == "roundtrip_jdbc":
        datagen.write_csv(data, w["tables"])
    items = list(w.get("queries") or w["tables"])
    random.Random(a.seed).shuffle(items)

    out = os.path.join(work, "record.json")
    run_jvm(["--workload", a.workload, "--kind", w["kind"], "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--data", data, "--work", work,
             "--order", ",".join(items), "--out", out], work, deadline)
    record = load_json(out)

    failures = {op["name"]: op["error"] for op in record["operations"] if op["error"]}
    outside_checks(w["kind"], record, data, failures)
    attempted = len(record["operations"])
    record["failures"] = failures
    record["seed"] = a.seed
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for name, err in sorted(failures.items()):
        print(f"FAILED {name}: {err}")

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = record["per_layer"] if a.trace else record["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: run produced no value for {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
