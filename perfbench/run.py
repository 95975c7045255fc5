#!/usr/bin/env python3
"""CDC engine benchmark: builds the engine and the harness from source,
runs one workload in fresh JVMs, checks the output, prints the metrics.

    python3 perfbench/run.py --workload hot_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (and the spans, actions
and stage metrics go to .bench_build/perfbench/traces/). Lines before it list
every metric the run measured, by name and unit.
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4          # the wide side of the scaling pair; the narrow side is local[1]
RUN_LIMIT_S = 170  # a run (after the build) ends within this, or fails
WORKLOADS = ("hot_stream", "wide_mor_reads")
SCALING_PAIR = {"hot_stream"}

UNITS = {
    "events_per_s": "events/s", "epoch_s_p50": "s", "write_amp": "ratio", "setup_s": "s",
    "error_rate": "ratio",
    "point_read_ms_p50": "ms", "point_read_ms_p90": "ms", "range_read_s_p50": "s",
    "changes_since_s": "s", "scan_rows_per_s": "rows/s", "compact_s": "s",
}

# The JDK 17 module opens Spark needs outside spark-submit (the same list
# as the root build's run options).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for rel in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, rel)):
            out.append(rel)
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def build():
    """Compile engine + harness with sbt (offline) once per source state;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found (expected build.sbt and src/main/scala at %s)" % ROOT)
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(STATE, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    os.makedirs(STATE, exist_ok=True)
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        rc, out = run_logged([sbt, "--batch", "-Dsbt.log.noformat=true",
                              "export perfbench/Runtime/fullClasspath"],
                             HERE, env, 850, log, capture=True)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        fail("build failed (exit %s); see %s" % (rc, log_path))
    cp = lines[-1].split(os.pathsep)
    if not all(os.path.exists(p) for p in cp):
        fail("build printed no usable classpath; see %s" % log_path)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def run_logged(cmd, cwd, env, timeout, log, capture=False):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it. Returns (exit code or None on timeout, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else log, stderr=log,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        else:
            # a clean exit may still leave strays in the group
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def heap_flag():
    """Heap ceiling sized from MemTotal like the tier-1 test command:
    half of RAM in GiB, clamped to [2, 8]."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    g = min(8, max(2, int(int(ln.split()[1]) / 2097152)))
    except OSError:
        pass
    return "-Xmx%dg" % g


def jvm(cp, args, rundir, role, timeout, flags):
    tmp = os.path.join(rundir, "tmp-" + role)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + flags + [
               "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
               "-Dspark.sql.warehouse.dir=" + os.path.join(rundir, "warehouse"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join(cp), "perfbench.Harness"] + args)
    # The engine's own env knobs must not leak in from the caller.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    out = os.path.join(rundir, role + ".json")
    with open(os.path.join(rundir, role + ".log"), "w") as log:
        rc, _ = run_logged(cmd + ["--out", out], rundir, env, timeout, log)
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(rundir, role + ".log")) as f:
            tail = f.read()[-3000:]
        fail("%s JVM %s; log tail:\n%s" % (role, "timed out" if rc is None else
                                          "exited %s" % rc, tail))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and waits for its JVMs (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cp = build()
    t_start = time.monotonic()
    rundir = os.path.join(STATE, "runs", "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    cpus = os.cpu_count() or CORES
    # Both sides of the scaling pair get identical JVM flags; only the
    # Spark master differs. They run one after the other.
    flags = [heap_flag(), "-XX:ActiveProcessorCount=%d" % cpus]
    # The local[1] side of the scaling pair runs in traced runs only: its
    # numbers (events_per_s_1c, scaling_eff, per-layer efficiencies) are
    # per-layer metrics, and a second cold JVM would double every run.
    pair = a.workload in SCALING_PAIR and a.trace == 1
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--inputs", os.path.join(rundir, "inputs")]

    def left():
        return RUN_LIMIT_S - (time.monotonic() - t_start)
    try:
        # A traced run mixes untraced and traced rounds on the main side
        # (tracing overhead) and traces the local[1] side.
        main_rec = jvm(cp, common + ["--cores", str(CORES), "--seconds", str(a.seconds),
                                     "--generate", "1", "--trace", str(a.trace),
                                     "--reads", str(a.trace),
                                     "--work", os.path.join(rundir, "work-main")],
                       rundir, "main", left() - (55 if pair else 0), flags)
        one = None
        if pair:
            # one traced round: the per-layer split at local[1]
            one = jvm(cp, common + ["--cores", "1", "--seconds", "0", "--generate", "0",
                                    "--reads", "0", "--trace", "2",
                                    "--work", os.path.join(rundir, "work-1c")],
                      rundir, "1c", left(), flags)
        result = report(a, main_rec, one, flags)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps(result))


def report(a, main_rec, one, flags):
    recs = [main_rec] + ([one] if one else [])
    e2e = metrics.end_to_end(main_rec)
    e2e["error_rate"] = metrics.error_rate(recs)
    if main_rec.get("reads"):
        e2e.update(metrics.reads_metrics(main_rec["reads"]))
    checks = [c for r in recs for c in r["checks"]]
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    correct = failed == 0 and all(c["ok"] for c in checks)
    print("perfbench %s seed=%d trace=%d: JVM flags %s; local[%d]%s, run one after the other"
          % (a.workload, a.seed, a.trace, " ".join(flags), CORES,
             " then local[1] in a fresh JVM" if one else ""))
    for k in sorted(e2e):
        print("  %-22s %-16.6g %s" % (k, e2e[k], UNITS.get(k, "count")))
    for r in recs:
        print("  local[%d] epoch walls (s) per round: %s" % (r["cores"], [
            [round(e["wall_s"], 3) for e in rd["epochs"]] for rd in r["rounds"]]))
        print("  local[%d] warm-up passes (s): %s" % (r["cores"], [round(x, 2) for x in r["warm_passes_s"]]))
        h = r["host"]
        print("  host[local[%d]]: steal %.2f s (%.2f%%), sys/user %.3f, gc %.2f s, heap peak %.0f MB"
              " of %.0f MB" % (r["cores"], h["steal_s"], 100 * h["steal_share"],
                               h["sys_over_user"], h["gc_s"], h["heap_peak_mb"], r["heap_max_mb"]))
    for c in checks:
        if not c["ok"]:
            print("  FAILED check: %s (%s)" % (c["name"], c.get("detail", "")))
    keys = bench_keys("per_layer" if a.trace else "end_to_end")
    if a.trace:
        layer, detail = metrics.per_layer(main_rec, one, CORES)
        out = {k: layer[k] for k in keys}
        for k in sorted(layer):
            print("  %-40s %.6g" % (k, layer[k]))
        print("  tracing overhead: %.1f%% of events_per_s (untraced %.6g, traced %.6g)"
              % (100 * layer["trace.overhead_share"], detail["untraced_events_per_s"],
                 detail["traced_events_per_s"]))
        tdir = os.path.join(STATE, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(path, "w") as f:
            json.dump({"end_to_end": e2e, "per_layer": layer, "detail": detail,
                       "records": recs}, f)
        print("  trace written to %s" % os.path.relpath(path, ROOT))
    else:
        out = {k: e2e[k] for k in keys}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": keys[k]} for k, v in out.items()}}


def bench_keys(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


if __name__ == "__main__":
    main()
