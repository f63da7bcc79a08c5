#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {analytics,ingest,txn_service}
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --audit --seed N --seconds S
    python3 perfbench/run.py --sweep --seed N --seconds S

A run builds the program if needed (perfbench/build.py), writes seeded
inputs (perfbench/datagen.py) into a private run dir, drives the workload
through the program's public functions in one JVM on local[4], checks every
output, and prints each metric as `name value unit`, then one JSON line:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
A run whose outputs fail the correctness gate prints correct=false and
exits 1. The run record (and, traced, the span tree) is kept in
`.bench_out/`; the run dir, including the program's java.io.tmpdir, is
deleted at exit after its leftover size is recorded.
"""
import argparse
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("analytics", "ingest", "txn_service")
RUN_LIMIT_S = 175
# -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
JVM_OPTS = ["-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return None


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm_version():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return out.stderr.strip().splitlines()[0] if out.stderr else None


def bench_conf():
    """The `.config(key, value)` pairs graft.Bench builds its session with,
    read from its source (values that are not literals are kept as code)."""
    path = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")
    try:
        with open(path) as fh:
            src = fh.read()
    except OSError:
        return {}
    pairs = re.findall(r'\.config\("([^"]+)",\s*("[^"]*"|[^)]+)\)', src)
    conf = {k: v[1:-1] if v.startswith('"') else "<" + v.strip() + ">" for k, v in pairs}
    master = re.search(r'\.master\(s?"([^"]+)"\)', src)
    if master:
        conf["<master>"] = master.group(1)
    return conf


def conf_diff(effective, bench):
    keys = sorted(set(bench) | {k for k in effective if k.startswith("spark.sql.")})
    return {k: {"bench": bench.get(k), "perfbench": effective.get(k)}
            for k in keys if bench.get(k) != effective.get(k)}


def oracle_gate(data_dir, out_dir):
    """Runs the repo's DuckDB oracle check over the dumped outputs;
    returns {query: passed} for every query that has oracle SQL."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                           data_dir, out_dir], capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?(\s|$)", line)
        if m:
            verdict[m.group(2)] = m.group(1) == "PASS"
    return verdict, proc.stdout


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(classes, workload, seed, seconds, trace, run_dir, deadline, txn_rate=None):
    cp = os.pathsep.join([classes] + build.spark_classpath())
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
                                 "--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", "1" if trace else "0",
                                 "--run-dir", run_dir]
    if txn_rate:
        cmd += ["--txn-rate", str(txn_rate)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("the JVM did not finish in time")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"the JVM exited with {code}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def new_run_dir(workload, seed, trace):
    run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("data", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


def run(workload, seed, seconds, trace, txn_rate=None):
    """One benchmark run; returns (exit code, final result dict)."""
    started = time.time()
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "cores": os.cpu_count(), "git_commit": git_commit(), "python": platform.python_version(),
              "loadavg_start": loadavg()}
    classes, source_hash = build.build()
    record["source_hash"] = source_hash
    record["build_s"] = time.time() - started
    record["jvm"] = jvm_version()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = new_run_dir(workload, seed, trace)
    try:
        datagen.write(seed, os.path.join(run_dir, "data"))
        t_jvm = time.time()
        res = run_jvm(classes, workload, seed, seconds, trace, run_dir, deadline, txn_rate)
        record["jvm_s"] = time.time() - t_jvm
        record["tmp_bytes_left"] = dir_bytes(os.path.join(run_dir, "tmp"))
        failures = list(res["failures"])
        failed = res["failed"]
        attempted = res["attempted"]
        if res["dumped"]:
            t_oracle = time.time()
            verdict, log = oracle_gate(res["record"].get("data_dir", os.path.join(run_dir, "data")),
                                       os.path.join(run_dir, "out"))
            record["oracle"] = verdict
            record["oracle_s"] = time.time() - t_oracle
            for name, ok in verdict.items():
                attempted += 1
                if not ok:
                    failed += 1
                    failures.append(f"oracle: {name}")
            missing = set(json.load(open(os.path.join(run_dir, "out", "oracle_sql.json")))) - set(verdict)
            for name in sorted(missing):
                attempted += 1
                failed += 1
                failures.append(f"oracle: {name} not checked")
            if failed:
                record["oracle_log"] = log[-4000:]
        record.update(res["record"])
        record["conf_diff_vs_graft_bench"] = conf_diff(res["record"].get("spark_conf", {}), bench_conf())
        record["failures"] = failures
        record["loadavg_end"] = loadavg()
        record["wall_s"] = time.time() - started
        metrics = res["metrics"]
        record["metrics"] = metrics
        if trace and "per_layer" in res["record"]:
            metrics = {k: {"value": v, "unit": None} for k, v in res["record"]["per_layer"].items()}
        out = {}
        for m in declared_metrics(trace):
            if m["name"] not in metrics:
                raise RuntimeError(f"metric {m['name']} was not measured")
            out[m["name"]] = {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
        for name, v in res["metrics"].items():
            print(f"{name} {v['value']} {v['unit']}")
        if trace:
            for name, v in out.items():
                print(f"{name} {v['value']} {v['unit']}")
        for f in failures[:20]:
            print(f"FAILED {f}")
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        stem = os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace{int(trace)}")
        with open(stem + ".json", "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if trace:
            shutil.copyfile(os.path.join(run_dir, "trace.json"), stem + "-spans.json")
        final = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
                 "metrics": out}
        return (0 if failed == 0 else 1), final
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def selftest():
    """Planted positives for the benchmark's own machinery."""
    classes, _ = build.build()
    run_dir = new_run_dir("selftest", 0, True)
    try:
        datagen.write(0, os.path.join(run_dir, "data"))
        res = run_jvm(classes, "selftest", 0, 1, True, run_dir, time.time() + RUN_LIMIT_S)
        checks = {k: v for k, v in res["record"].items() if k.startswith("selftest.")}
        verdict, _ = oracle_gate(os.path.join(run_dir, "data"), os.path.join(run_dir, "out"))
        checks["selftest.gate_clean_passes"] = {"ok": verdict.get("q01_pricing_summary") is True}
        checks["selftest.gate_catches_corrupted_row"] = {"ok": verdict.get("q01_corrupted") is False}
        ok = all(c["ok"] for c in checks.values())
        for name, c in sorted(checks.items()):
            print(f"{'PASS' if c['ok'] else 'FAIL'} {name} {c.get('detail', '')}")
        return 0 if ok else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def audit(seed, seconds):
    """Runs each workload traced twice at one seed and lists which per-call
    counts repeat exactly; writes perfbench/exactness.json."""
    counted = ("jobs", "stages", "tasks")
    report = {}
    for w in WORKLOADS:
        runs = []
        for _ in range(2):
            run(w, seed, seconds, True)
            with open(os.path.join(ROOT, ".bench_out", f"{w}-seed{seed}-trace1-spans.json")) as fh:
                runs.append(json.load(fh))
        per_call = []
        for r in runs:
            by_name = {}
            for c in r["calls"]:
                by_name.setdefault(c["name"], []).append(
                    {**{k: c[k] for k in counted}, **{f"fs.{k}": v for k, v in c["fs"].items()}})
            per_call.append(by_name)
        exact, varying = [], {}
        for name in sorted(set(per_call[0]) & set(per_call[1])):
            a, b = per_call[0][name], per_call[1][name]
            for key in a[0]:
                va, vb = [x[key] for x in a], [x[key] for x in b]
                (exact if va == vb else varying.setdefault(name, [])).append(
                    f"{name}.{key}" if va == vb else {key: [va, vb]})
        layer = [{k: r["per_layer"][k] for k in r["per_layer"] if not k.endswith(("_s", "_ms", "_mb", "_pct"))}
                 for r in runs]
        report[w] = {"exact_per_call": exact, "varying_per_call": varying,
                     "exact_per_layer": sorted(k for k in layer[0] if layer[0][k] == layer[1][k]),
                     "varying_per_layer": {k: [layer[0][k], layer[1][k]] for k in layer[0]
                                           if layer[0][k] != layer[1][k]}}
    with open(os.path.join(HERE, "exactness.json"), "w") as fh:
        json.dump({"seed": seed, "seconds": seconds, "workloads": report}, fh, indent=1)
    print(json.dumps({w: {"exact": len(r["exact_per_call"]), "varying": len(r["varying_per_call"])}
                      for w, r in report.items()}))
    return 0


SWEEP_RATES = (2, 4, 8, 16, 32, 64)


def sweep(seed, seconds):
    """Runs txn_service at rising offered rates and records where the
    service stops keeping up; writes perfbench/txn_sweep.json."""
    rows = []
    for rate in SWEEP_RATES:
        code, final = run("txn_service", seed, seconds, False, rate)
        with open(os.path.join(ROOT, ".bench_out", f"txn_service-seed{seed}-trace0.json")) as fh:
            r = json.load(fh)
        m = r["metrics"]
        batch = sorted(r["batch_ms"]) or [0]
        rows.append({"offered_txn_per_s": rate, "correct": code == 0, "failed": final["failed"],
                     "txn_complete_p50_ms": m["txn_complete_p50_ms"]["value"],
                     "txn_complete_tail_ms": m.get("txn_complete_tail_ms", {}).get("value"),
                     "txn_completed_per_s": m["txn_completed_per_s"]["value"],
                     "batch_ms_p50": batch[len(batch) // 2], "batch_ms_max": batch[-1],
                     "batch_input_rows_max": max(r["batch_input_rows"] or [0]),
                     "generator_lag_ms_p50": r["generator_lag_ms_p50"],
                     "generator_lag_ms_max": r["generator_lag_ms_max"]})
        print(json.dumps(rows[-1]))
    with open(os.path.join(HERE, "txn_sweep.json"), "w") as fh:
        json.dump({"seed": seed, "seconds": seconds, "cores": os.cpu_count(), "rates": rows}, fh, indent=1)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--audit", action="store_true")
    ap.add_argument("--sweep", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.audit:
        return audit(a.seed, a.seconds)
    if a.sweep:
        return sweep(a.seed, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    code, final = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(final))
    return code


if __name__ == "__main__":
    # a terminated run still stops its JVM and deletes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # a run that cannot measure prints no result
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
