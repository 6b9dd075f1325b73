#!/usr/bin/env python3
"""Served-pipeline benchmark: survey tables through the engine's HTTP endpoints.

    python3 perfbench/run.py --workload wide_schema --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and caches the classpath under
``.bench_build/perfbench``; inputs are generated from ``--seed`` and cached
per seed and shape. Neither counts in any metric.

Each run starts the engine twice the way a host does (``GraftSession`` +
``graft.api.PipelineServer``): a set-up-only JVM, then the benchmark JVM,
which drives the HTTP endpoints in a closed loop (see ``ServedBench.scala``);
``setup_s`` is the median of their two set-up times. Every published table is
checked against the generator's spec after the JVM exits. The last stdout
line is one JSON object: with ``--trace 0`` the end-to-end metrics named in
``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics from a traced
replay. The line before it lists every metric of the run with its unit; a
traced run also leaves its span file and full layer table in
``.bench_build/perfbench/traces``. ``first_table_s`` (the cold cycle) is on
that line only: one cold JVM per run swings too much with the host's load
for a bound, and more cold JVMs do not fit the run budget.

BENCHMARK.json lists ``wide_schema`` and ``merge_versions``. ``tall_profile``
(clean_rows in scan mode, then reference mode, on a narrower, taller table)
runs the same way by hand; it is left out of BENCHMARK.json because three
workloads do not fit the run budget there with steady figures.
"""

import sys

sys.dont_write_bytecode = True

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen     # noqa: E402
import verify  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("wide_schema", "tall_profile", "merge_versions")
# untimed seconds from the cold cycle's start to the timed window: past the
# steep part of the JIT's warm-up on the workload's plans, which the merges'
# shuffle and join paths leave later than the wide plans do
WARMUP_S = {"wide_schema": 22, "tall_profile": 22, "merge_versions": 28}
SETUPS = 2          # set-up samples per run: one set-up-only JVM, then the benchmark JVM
RUN_LIMIT_S = 170   # whole run, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def unit(name):
    for suffix, u in (("_s", "s"), ("_bytes", "bytes"), ("_frac", "frac"),
                      ("_mb", "MB"), ("_per_min", "1/min"), ("_per_in_byte", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("the engine's sources are not beside the benchmark; "
                         "run from the repository root")
    stamp, cp_file = sources_stamp(), os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=700).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise BenchError(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def jvm(classpath, args, run_dir, deadline):
    """Runs ServedBench; returns its result JSON. Its logs go to a file."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, f"result-{time.monotonic_ns()}.json")
    # a fixed heap size: while G1 grew the heap, warm-up took longer and varied more
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.ServedBench", "--out", run_dir,
            "--result", result, "--cores", str(cores())] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "ab") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=f, stdin=subprocess.DEVNULL,
                                timeout=max(10, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"benchmark JVM ran past the time limit; see {log}")
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BenchError(f"benchmark JVM exited {rc}; see {log}")
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def score(spec, cycles):
    """(attempted, failed, failures) over every request of the run: a
    request fails on a non-200 reply or a wrong published table."""
    failures = []
    reqs = [r for c in cycles for r in c["requests"]]
    for r in reqs:
        why = (f"HTTP {r['status']}" if r["status"] != 200
               else verify.check(spec, r["label"], r["dest"]))
        if why:
            failures.append(f"{r['id']} {r['label']}: {why}")
    return len(reqs), len(failures), failures


def end_to_end(setups, res, cycles):
    timed = [c for c in cycles if c["phase"] == "timed"]
    if not timed:
        raise BenchError("no cycle started in the timed window")
    cold = [c for c in cycles if c["phase"] == "cold"]
    span = max(c["end"] for c in timed) - min(c["start"] for c in timed)
    ins = outs = 0
    for c in timed:
        for r in c["requests"]:
            ins += sum(verify.parquet_bytes(s) for s in r["sources"])
            outs += verify.parquet_bytes(r["dest"]) if os.path.isdir(r["dest"]) else 0
    m = {
        "setup_s": median(setups),
        "first_table_s": cold[0]["end"] - cold[0]["start"],
        "table_s": median([c["end"] - c["start"] for c in timed]),
        "tables_per_min": 60.0 * len(timed) / span,
        "out_bytes_per_in_byte": outs / ins,
        "heap_retained_mb": res["heap_retained_mb"],
    }
    # per-endpoint HTTP latency medians, for the endpoints this workload sends
    by_label = {}
    for c in timed:
        for r in c["requests"]:
            by_label.setdefault(r["label"] + "_s", []).append(r["end"] - r["start"])
    m.update((k, median(v)) for k, v in by_label.items())
    return m, len(timed)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test shapes")
    a = ap.parse_args(argv)
    started = time.monotonic()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            contract = json.load(f)
        classpath = build()
        deadline = time.monotonic() + RUN_LIMIT_S
        shape = (gen.TINY if a.tiny else gen.SHAPES)[a.workload]
        tag = hashlib.sha256(json.dumps([gen.GENERATOR_VERSION, shape]).encode()).hexdigest()[:8]
        data = os.path.join(WORK, "data", f"{a.workload}-{tag}-seed{a.seed}")
        spec = gen.generate(a.workload, a.seed, data, tiny=a.tiny)
        run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            # the smoke test's tiny runs take one set-up sample
            setups = [jvm(classpath, [], run_dir, deadline)["setup_s"]
                      for _ in range(0 if a.tiny else SETUPS - 1)]
            res = jvm(classpath, ["--workload", a.workload, "--data", data,
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--warmup", str(0 if a.tiny else WARMUP_S[a.workload])],
                      run_dir, deadline)
            setups.append(res["setup_s"])
            cycles = res["cycles"]
            attempted, failed, failures = score(spec, cycles)
            print(f"perfbench timing: setups={setups} cycles="
                  + ",".join(f"{c['phase']}:{c['end'] - c['start']:.2f}" for c in cycles),
                  file=sys.stderr)
            if a.trace:
                trace = res["trace"]
                metrics, n = dict(trace["layers"]), trace["cycles"]
                names = [m["name"] for m in contract["per_layer"]]
                out_dir = os.path.join(WORK, "traces")
                os.makedirs(out_dir, exist_ok=True)
                stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}")
                shutil.copy(os.path.join(run_dir, "spans.json"), stem + ".spans.json")
                with open(stem + ".layers.json", "w") as f:
                    json.dump(trace, f, indent=1)
            else:
                metrics, n = end_to_end(setups, res, cycles)
                names = [m["name"] for m in contract["end_to_end"]]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except (BenchError, OSError, KeyError, ValueError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for f in failures[:5]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    metrics["failed_frac"] = failed / attempted
    line = " ".join(f"{k}={v:.6g}[{unit(k)}]" for k, v in metrics.items())
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={cores()} "
          f"cycles={n} requests={attempted} wall={time.monotonic() - started:.1f}s {line}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit(k)} for k in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
