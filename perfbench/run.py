#!/usr/bin/env python3
"""Job-level ingest benchmark.

Runs real ingest jobs through the program's public entry points on
seeded, generated inputs and prints one JSON object as its last line of
standard output: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer ones).

    python3 perfbench/run.py --workload spine_csv --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run compiles the program and
the harness from source with sbt into `.bench_build/`; later runs reuse
that build until a source file changes. Inputs and outputs live in
`.bench_work/` and are removed when the run ends. The exit code is 0
when every output checks, 1 on a mismatch and 2 when the benchmark
cannot run at all.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SETUP_PROBES = 1  # extra fresh JVMs; the harness JVM is one more sample
DEADLINE_S = 170
JVM_OPTS = [
    # no hsperfdata file: the JVM would otherwise write one outside the checkout
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for arg in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

E2E_UNITS = {
    "setup_s": "s", "cold_job_s": "s", "records_per_s": "1/s", "job_s.p50": "s",
    "noop_job_s.p50": "s", "jobs_per_s": "1/s", "out_bytes_per_record": "B",
    "files_written": "count", "retained_heap_mb": "MB",
}
# per-layer units by name suffix, first match wins; anything else counts
LAYER_UNITS = (("mb_per_s", "MB/s"), ("us_per_record", "us"), ("ms", "ms"), ("_s", "s"),
               ("_mb", "MB"), ("_ratio", "ratio"), ("speedup", "ratio"))


class BenchError(Exception):
    """The benchmark could not run (as opposed to a wrong output)."""


# ------------------------------------------------------------------ build

def _sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)


def _stamp():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BenchError(f"no program sources at {ROOT} (build.sbt, src/main)")
    stamp = _stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, classpath = f.read() == stamp, g.read()
        if same and all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Xmx2g", "-XX:-UsePerfData",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}",
            f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.forcestart=false"]
    if env["COURSIER_MODE"] == "offline":
        opts.append("-Dsbt.offline=true")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and "classes" in ln and ".jar" in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError(f"build failed (sbt exit {rc}); log in {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ------------------------------------------------------------------- JVMs

def _java(classpath, main, args, work, deadline, stop_at_ready=False):
    """Start `main` in a fresh JVM; return the seconds from start until it
    printed READY. Waits for it to finish (or, with `stop_at_ready`, kills
    it once ready); kills it `deadline` seconds after the start."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main, *args]
    log = open(os.path.join(work, f"{main.rsplit('.', 1)[-1]}.log"), "a")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                         stdin=subprocess.DEVNULL, text=True)
    watchdog = threading.Timer(max(1.0, deadline), p.kill)
    watchdog.start()
    try:
        ready = None
        for line in p.stdout:
            if line.strip() == "READY" and ready is None:
                ready = time.perf_counter() - t0
                if stop_at_ready:
                    p.kill()
                    break
        p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        p.stdout.close()
        log.close()
    if ready is None or (p.returncode != 0 and not stop_at_ready):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"{main} exited {p.returncode}")
    return ready


# -------------------------------------------------------------------- run

def run(workload, seed, seconds, traced, cores):
    classpath = build()
    t_start = time.perf_counter()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        manifest = gen.generate(workload, seed, work)
        def left():
            return DEADLINE_S - (time.perf_counter() - t_start)

        local = os.path.join(work, "spark-local")
        setup = []
        if not traced:
            for _ in range(SETUP_PROBES):
                setup.append(_java(classpath, "perfbench.SetupProbe",
                                   [str(cores), local], work, left(), stop_at_ready=True))
        setup.append(_java(classpath, "perfbench.Harness",
                           [work, str(seconds), "1" if traced else "0", str(cores)],
                           work, left()))
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        attempted, failures = check.evaluate(manifest, result)
        untraced, samples = check.end_to_end(manifest, result, traced=False)
        if traced:
            with_trace, traced_samples = check.end_to_end(manifest, result, traced=True)
            layers = {k: v for k, v in result["layers"].items() if not isinstance(v, dict)}
            for k in ("job_s.p50", "noop_job_s.p50", "records_per_s", "jobs_per_s"):
                layers[f"trace.overhead.{k}"] = with_trace[k] - untraced[k]
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
            samples = {"untraced": samples, "traced": traced_samples,
                       "spark_jobs_by_span": result["layers"]["spark_jobs_by_span"]}
        else:
            e2e = dict(untraced, setup_s=check.median(setup),
                       retained_heap_mb=result["retained_heap_mb"])
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        unmeasured = [k for k, m in metrics.items() if m["value"] != m["value"]]
        if unmeasured:  # NaN: a median of no samples
            raise BenchError(f"no samples for {', '.join(unmeasured)}")
        detail = {"workload": workload, "seed": seed, "cores": cores,
                  "setup_samples_s": setup, "loop_s": result["loop_s"],
                  "samples": samples, "failures": failures[:20]}
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0 if not failures else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    if name.startswith("trace.overhead."):
        return E2E_UNITS[name[len("trace.overhead."):]]
    return next((u for suffix, u in LAYER_UNITS if name.endswith(suffix)), "count")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        return run(a.workload, a.seed, a.seconds, a.trace == 1, len(os.sched_getaffinity(0)))
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
