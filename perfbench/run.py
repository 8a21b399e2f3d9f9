#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 25 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness from source (sbt, offline) into `.perfbench/build`; later
runs reuse the build while the sources are unchanged. A run generates
the workload's inputs from the seed, runs them through the public graft
API in one JVM (`perfbench.Main`, a closed loop with one client on
local[nproc]), checks every output, and prints as its last line one
JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer
metrics with `--trace 1` (which also writes the spans to
`.perfbench/trace-<workload>-<seed>.json`). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170          # the whole run, build excluded
BUILD_LIMIT_S = 850
HEAP = "2g"
# what spark-submit passes to a JDK 17 JVM (JavaModuleOptions)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
# the op kind whose latency is the workload's latency
PRIMARY = {"olap_sql": "query", "store_ingest": "ingest"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", "build.sbt", "project/build.properties", "perfbench/src",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src/main/scala/graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "build", f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:], p.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return lines[-1]


# -------------------------------------------------------------------- run

def run_jvm(cp, args, log_path, limit):
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(os.path.dirname(log_path), 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *args]
    os.makedirs(os.path.join(os.path.dirname(log_path), "tmp"), exist_ok=True)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
    return code


def end_to_end(res, gen_s, workload):
    ops = res["ops"]
    prim = [o["s"] for o in ops if o["kind"] == PRIMARY[workload]]
    t, pct, n = checks.tail(prim)
    busy = sum(o["s"] for o in ops)
    log(f"perfbench: {workload}: {n} latency samples, tail = p{pct:.1f}; "
        f"{len(ops)} ops in {busy:.2f} s")
    return {
        "setup_s": gen_s + res["setup_s"],
        "wall_s": res["measured_s"],
        "latency_p50_s": checks.hd_median(prim),
        "latency_tail_s": t,
        "ops_per_s": len(ops) / busy if busy else 0.0,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    t_start = time.time()
    wd = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(wd, ignore_errors=True)
    inputs = os.path.join(wd, "inputs")
    try:
        t0 = time.perf_counter()
        sizes = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.perf_counter() - t0
        rows = sum(r for _, r, _ in sizes)
        size = sum(b for _, _, b in sizes)
        print(f"inputs {a.workload} seed {a.seed}: {len(sizes)} files, {rows} rows, {size} bytes")
        result = os.path.join(wd, "result.json")
        limit = RUN_LIMIT_S - (time.time() - t_start) - 15
        t1 = time.perf_counter()
        code = run_jvm(cp, [a.workload, inputs, os.path.join(wd, "jvm"), str(a.seconds), str(a.seed),
                            str(a.trace), result], os.path.join(wd, "jvm.log"), limit)
        if code != 0 or not os.path.exists(result):
            with open(os.path.join(wd, "jvm.log")) as f:
                log(f.read()[-6000:])
            fail("the JVM timed out" if code is None else f"the JVM exited with {code}", 3)
        with open(result) as f:
            res = json.load(f)
        res["_trace_path"] = result + ".trace.json"
        t2 = time.perf_counter()
        verdict = checks.check(a.workload, res, inputs)
        log(f"perfbench: inputs {gen_s:.1f} s, JVM {t2 - t1:.1f} s (set-up {res['setup_s']:.1f} s, "
            f"measured {res['measured_s']:.1f} s), checks {time.perf_counter() - t2:.1f} s")
        for line in verdict["notes"]:
            print(line)
        if a.trace:
            metrics = checks.per_layer(a.workload, res)
            trace_out = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
            shutil.copyfile(result + ".trace.json", trace_out)
            print(f"trace: {trace_out}")
            names = [m["name"] for m in spec["per_layer"]]
        else:
            metrics = end_to_end(res, gen_s, a.workload)
            names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        missing = [n for n in names if n not in metrics]
        if missing:
            fail(f"metrics not measured: {missing}", 4)
        for n in names:
            print(f"{n} = {metrics[n]:.6g} {units[n]}")
        print(json.dumps({
            "correct": verdict["failed"] == 0,
            "attempted": verdict["attempted"],
            "failed": verdict["failed"],
            "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
        }))
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
