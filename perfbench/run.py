#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: bulk_load, trickle and wide_drop, the ones BENCHMARK.json
lists; and registry, a slice of the query registry, left out of
BENCHMARK.json so that a full set of measured runs stays within the hour.
`--workload all` runs each in turn and prints every metric by name with
its unit.
The first call builds the engine and the harness with sbt (perfbench/
build.sbt) and caches the launch spec under the build dir; later calls
reuse it until a source file changes. Everything a run writes stays under
the build dir: `$CARGO_TARGET_DIR` if set, else `.bench_build`, relative
to the checkout root. The last line of stdout is the run's JSON result;
the full artifact (and the spans of a traced run) is written to
<build dir>/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_load", "trickle", "wide_drop", "registry")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx3g"
# The engine's JVM options make System.gc() a concurrent cycle; the heap
# probe between ops needs a full collection to read a steady live set.
# Nothing else in a run calls System.gc(): Spark's periodic cleaner GC
# first fires a minute after start, after a run has ended.
DROPPED_JVM_OPTS = ("-XX:+ExplicitGCInvokesConcurrent",)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    out = []
    for base in (ROOT, HERE):
        for f in ("build.sbt", os.path.join("project", "build.properties")):
            out.append(os.path.join(base, f))
        for top, _, names in os.walk(os.path.join(base, "src", "main")):
            out.extend(os.path.join(top, n) for n in names)
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Returns (classpath, jvm options, build id), building when sources
    changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    fp = fingerprint(source_files())
    spec = os.path.join(bdir, "launch.txt")
    stamp = os.path.join(bdir, "launch.fingerprint")
    if not (os.path.exists(spec) and os.path.exists(stamp)
            and open(stamp).read() == fp):
        os.makedirs(bdir, exist_ok=True)
        log = os.path.join(bdir, "build.log")
        tmp = os.path.join(bdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep sbt's own scratch (server socket, boot and ivy locks, temp
        # files) inside the build dir; it reads its caches as usual
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "-Dsbt.boot.lock=false", f"-Dsbt.ivy.home={bdir}/ivy",
               f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", f"perfbench/launchSpec {spec}"]
        with open(log, "w") as fh:
            rc = run_bounded(cmd, HERE, BUILD_TIMEOUT_S, fh, fh, env_for(tmp))
        if rc != 0 or not os.path.exists(spec):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (exit {rc}), see {log}")
        with open(stamp, "w") as fh:
            fh.write(fp)
    lines = open(spec).read().splitlines()
    return lines[0], [o for o in lines[1:] if o not in DROPPED_JVM_OPTS], fp[:16]


def env_for(tmp):
    """Temp files of the tools and JVMs go to `tmp`; no JVM writes its
    perf-data file to the system temp dir."""
    return {**os.environ, "TMPDIR": tmp, "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"}


def run_bounded(cmd, cwd, timeout, stdout, stderr, env):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives this call."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass


def launch(a, trace, classpath, jvm_opts, build_id, bdir):
    """One JVM run of the harness; returns (result line, artifact)."""
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    name = f"{a.workload}-seed{a.seed}-trace{trace}"
    runs = os.path.join(bdir, "runs")
    os.makedirs(runs, exist_ok=True)
    artifact = os.path.join(runs, name + ".json")
    out_path = os.path.join(runs, name + ".out")
    cmd = (["java"] + jvm_opts + [HEAP, f"-Djava.io.tmpdir={work}/tmp",
                                  "-cp", classpath, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", trace,
                                  "--work", work, "--data", os.path.join(HERE, "data"),
                                  "--artifact", artifact, "--build-id", build_id])
    t0 = time.time()
    with open(out_path, "w") as out, open(os.path.join(runs, name + ".log"), "w") as err:
        rc = run_bounded(cmd, work, RUN_TIMEOUT_S, out, err, env_for(os.path.join(work, "tmp")))
    shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in open(out_path).read().splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if rc != 0 or result is None:
        die(f"{a.workload} run failed (exit {rc}) after {time.time() - t0:.0f} s, "
            f"see {runs}/{name}.log")
    return result, json.load(open(artifact))


def untraced_run_s(bdir, a, build_id):
    """run_s of every untraced run of this build, workload and length."""
    out = []
    runs = os.path.join(bdir, "runs")
    for f in sorted(os.listdir(runs)) if os.path.isdir(runs) else []:
        if f.startswith(a.workload + "-") and f.endswith("-trace0.json"):
            art = json.load(open(os.path.join(runs, f)))
            if art.get("build_id") == build_id and art.get("seconds") == a.seconds:
                out.append(art["end_to_end"]["run_s"])
    return out


def trace_overhead(bdir, a, build_id, artifact):
    """The traced run's run_s against the median run_s of the untraced
    runs of the same build, workload and length. Before any such run
    exists, only the traced run's own bookkeeping share can be measured;
    the artifact says which basis was used."""
    base = untraced_run_s(bdir, a, build_id)
    ops = artifact["op_results"]
    if base:
        frac = artifact["end_to_end"]["run_s"] / statistics.median(base) - 1.0
        basis = f"median run_s of {len(base)} untraced runs"
    else:
        busy = sum(o["busy_s"] for o in ops)
        frac = sum(o["wall_s"] for o in ops) / busy - 1.0
        basis = "bookkeeping share only: no untraced run of this build yet"
    artifact["trace_overhead"] = {"frac": frac, "basis": basis}
    path = os.path.join(bdir, "runs", f"{a.workload}-seed{a.seed}-trace1.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh)
    return frac


def run_one(a, build_info, bdir):
    classpath, jvm_opts, build_id = build_info
    result, artifact = launch(a, a.trace, classpath, jvm_opts, build_id, bdir)
    if a.trace == "1":
        result["metrics"]["trace.overhead_frac"] = {
            "value": trace_overhead(bdir, a, build_id, artifact), "unit": "ratio"}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    bdir = build_dir()
    build_info = build(bdir)
    if a.workload != "all":
        print(json.dumps(run_one(a, build_info, bdir)))
        return
    # every workload in turn, each metric by name with its unit, then
    # one combined result line
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = run_one(argparse.Namespace(**{**vars(a), "workload": w}), build_info, bdir)
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} failed_frac={r['failed'] / r['attempted']:g}")
        for k, v in sorted(r["metrics"].items()):
            print(f"  {k:38s} {v['value']:>16.6g} {v['unit']}")
        combined["correct"] &= r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
