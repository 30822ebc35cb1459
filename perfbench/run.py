#!/usr/bin/env python3
"""One benchmark run: build, generate seeded inputs, run, check, report.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: labs-batch, labs-stream (see BENCHMARK.json).
The last stdout line is one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A contention stamp (load1, external CPU share) is printed on the line before
and stored with the run's record under .bench_build/perfbench/runs/.

Building: the harness and the repository's main sources compile together
with sbt (perfbench/build.sbt) on first use, or when a source changes. Every
file a run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import re
import resource
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
# the Spark jars directory the repository's own build compiles against
SPARK_JARS = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text()).group(1) \
    if (ROOT / "build.sbt").is_file() else None
CPUS = max(1, min(4, os.cpu_count() or 1))
T0 = time.time()
DEADLINE_S = 175          # a run (after any build) ends within this

WORKLOADS = ("labs-batch", "labs-stream")
# labs-batch queries, keyed by the name tools/check_labs.py gives each value gate
LAB_QUERIES = {"q32": "q32_lab1_pricematch", "q33": "q33_lab2_rag", "q34": "q34_lab3_fleet",
               "q35": "q35_lab4_fraud", "q161": "q161_lab3_fleet_ann"}
STREAM_BACKLOG = 240      # hour files present when the stream starts
STREAM_RATE = 6.0         # live hour files dropped per second

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build
def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main" / "scala", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = sorted(r.rglob("*")) if r.is_dir() else [r]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log("perfbench: no graft sources next to the benchmark; nothing to build")
        sys.exit(2)
    stamp_file = HERE / "target" / "perfbench.stamp"
    stamp = source_stamp()
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + str(Path.home() / ".sbt" / "repositories") + " -Dsbt.offline=true -Xmx2g"))
    log("perfbench: compiling (sbt) ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0:
        log("perfbench: build failed")
        sys.exit(2)
    stamp_file.write_text(stamp)


# -------------------------------------------------------------- contention
def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6] + (v[7] if len(v) > 7 else 0)
    return busy


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def own_cpu_s():
    s = resource.getrusage(resource.RUSAGE_SELF)
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


# ------------------------------------------------------------- correctness
def fingerprint_mismatches(fps):
    """Queries whose order-insensitive fingerprint is not identical in every
    pass (the gated warm-up pass and the timed ones), or that errored."""
    return sorted(q for q, xs in fps.items()
                  if not xs or len(set(xs)) != 1 or xs[0] in ("error", "none"))


def gate_failures(data, dump, deadline):
    """Lab queries whose output fails its tools/check_labs.py value gate.
    The gates re-compute each query from the inputs in Python; they run in
    parallel once the harness JVM has exited. (No lab query has a DuckDB
    oracle in the catalog.)"""
    jobs = {q: subprocess.Popen([sys.executable, str(ROOT / "tools" / "check_labs.py"),
                                 str(data), str(dump), key],
                                cwd=data, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                text=True, stdin=subprocess.DEVNULL)
            for key, q in LAB_QUERIES.items()}
    outs = {}
    try:
        for q, p in jobs.items():
            outs[q] = p.communicate(timeout=max(1.0, deadline - time.time()))[0]
    except subprocess.TimeoutExpired:
        log("perfbench: value gates ran out of time")
    finally:
        for p in jobs.values():
            p.kill()
            p.wait()
    bad = {q for q in jobs if q not in outs or jobs[q].returncode != 0}
    for q in sorted(bad):
        log(f"perfbench: check_labs.py {q} failed:\n{outs.get(q, '')[-2000:]}")
    return bad


# --------------------------------------------------------------------- run
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    global T0
    T0 = time.time()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    tmp = WORK / "tmp" / run_id
    data = tmp / "data"
    out = tmp / "out"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        live = math.ceil(STREAM_RATE * a.seconds)
        subprocess.run([sys.executable, str(HERE / "gen.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--out", str(data),
                        "--hours", str(STREAM_BACKLOG + live)],
                       check=True, stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=120)
        manifest = json.loads((data / "manifest.json").read_text())
        # Spark's scratch space and the JVM's temp files stay in the run dir
        jtmp = tmp / "jvm"
        jtmp.mkdir()
        cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={jtmp}", f"-Dspark.local.dir={jtmp}",
                                     "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Harness",
                                     "--out", str(out), "--seconds", str(a.seconds),
                                     "--trace", str(a.trace), "--cpus", str(CPUS), "--run", run_id]
        if a.workload == "labs-stream":
            stage = data / "stage"
            stage.mkdir()
            for h in manifest["hours"][STREAM_BACKLOG:]:
                os.rename(data / "feed" / h["file"], stage / h["file"])
            cmd += ["--mode", "stream", "--data", str(data), "--rate", str(STREAM_RATE),
                    "--backlog", str(STREAM_BACKLOG)]
        else:
            cmd += ["--mode", "batch", "--data", str(data),
                    "--queries", ",".join(LAB_QUERIES.values())]

        l1, busy0, own0, t0 = load1(), cpu_jiffies(), own_cpu_s(), time.time()
        p = subprocess.run(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=DEADLINE_S - 20 - (time.time() - T0))
        wall = time.time() - t0
        hz = os.sysconf("SC_CLK_TCK")
        ext = max(0.0, ((cpu_jiffies() - busy0) / hz - (own_cpu_s() - own0))
                  / (wall * (os.cpu_count() or 1)))
        if p.returncode != 0 or not (out / "result.json").is_file():
            log(f"perfbench: harness exited with {p.returncode}")
            sys.exit(3)
        res = json.loads((out / "result.json").read_text())

        failed = int(res["failed"])
        attempted = int(res["attempted"])
        problems = list(res.get("errors", []))
        if res["mode"] == "batch":
            fps = res["fingerprints"]
            bad = set(fingerprint_mismatches(fps)) | gate_failures(data, out / "dump",
                                                                   T0 + DEADLINE_S - 5)
            # a wrong query counts every one of its executions as failed
            failed = max(failed, sum(len(fps[q]) for q in bad if q in fps))
            problems += [f"wrong output: {q}" for q in sorted(bad)]
        elif not res["check"].get("ok"):
            failed = attempted
            problems.append(f"stream contract: {res['check']}")
        correct = failed == 0 and not problems

        e2e = dict(res["e2e"])
        e2e["peak_rss_mb"] = res["peak_rss_mb"]
        in_rows = sum(v for k, v in manifest["rows"].items() if not k.startswith("feed/"))
        if res["mode"] == "batch":
            e2e["catchup_eps"] = in_rows / e2e["pass_s"]
            e2e["cpu_ms_per_kevent"] = e2e["cpu_s_per_pass"] * 1000.0 / (in_rows / 1000.0)
        metrics = metric_values(e2e, res.get("layer", {}), a.trace)
        # load1 is kept but not judged: back-to-back runs leave their own load
        contended = ext > 0.05
        stamp = {"run": run_id, "load1_start": l1, "ext_cpu_frac": round(ext, 4),
                 "contended": contended, "passes": res.get("passes"),
                 "clone_share": manifest.get("clone_share"), "problems": problems,
                 "check": res.get("check"), "latency_samples": res.get("latency_samples")}
        record = WORK / "runs" / run_id
        record.mkdir(parents=True, exist_ok=True)
        for f in ("result.json", "spans.json"):
            if (out / f).is_file():
                shutil.copy(out / f, record / f)
        (record / "stamp.json").write_text(json.dumps(stamp, indent=1))
        print(json.dumps({"contention": stamp}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def metric_values(e2e, layer, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # the traced run also reports its end-to-end latencies among the per-layer metrics
    metrics, src = (spec["per_layer"], {**e2e, **layer}) if trace else (spec["end_to_end"], e2e)
    return {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in metrics}


if __name__ == "__main__":
    main()
