#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--cpus N] [--save FILE]

Run from the repository root. The command builds the library and the
harness (perfbench/harness, cached by a hash of their sources), makes
the seeded input (perfbench/gen.py: graft.FuzzGen's transform of the
base fixture in perfbench/fixture, then graft.CanaryGen's xF where the
workload scales; cached by seed and factor), and starts one JVM at
local[cpus]. That JVM starts a session and runs one pass over the
workload's gates (the set-up), runs unmeasured passes for WARMUP_S
seconds, then runs the gates one at a time in a closed loop with one
client for about S seconds, then dumps the gates' outputs with
graft.Verify. Outside the timed region, tools/oracle_check.py compares
the dump against the DuckDB oracle.

Every metric is printed as `name value unit`, with three lines beside
them: the gate-latency tail (with its percentile and sample count),
failed_frac (failed evaluations over attempted ones) and
oracle_mismatches. The last line is one JSON object with `correct`
(no oracle mismatch), `attempted`, `failed` and `metrics`: the
end-to-end metrics untraced, the per-layer metrics with --trace 1.
The exit code is 0 only if every evaluation succeeded and every gate
matched its oracle.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
TARGET = os.path.join(HARNESS, "target")
BASE_FIXTURE = os.path.join(BENCH, "fixture")
LIB_SOURCES = os.path.join(ROOT, "src", "main", "scala")
ORACLE_CHECK = os.path.join(ROOT, "tools", "oracle_check.py")

# Each workload is a short list of gates, run by one client in a closed
# loop. A run pays a cold first pass (~15 s of JVM and Spark warm-up on
# top of the gates), WARMUP_S of unmeasured passes while the JIT
# compiler settles, the measured passes, the correctness dump and the
# oracle check; these gates cost 0.5-2.5 s each even warm.
WORKLOADS = {
    # The paper's own surface over 1M events (the base fixture's events
    # x100): per-row scan, hash aggregation and shuffle in the batch
    # queries, and one large stateful batch into the JDBC upsert sink.
    "orders_metrics": {
        "factor": 100,
        "gates": ["q1_daily_uv_gmv", "q5_hourly_rollup", "sql_q6_trailing",
                  "stream_q3_user_gmv"],
    },
    # The write side: a streaming leg that fans each micro-batch out to
    # two file sinks, a WordPiece artifact write-then-load, and an ORC
    # write-then-read. Small inputs, many eager jobs: fixed costs rule.
    "ingest_write": {
        "factor": 1,
        "gates": ["stream_fanout_rollup", "wordpiece_artifact_roundtrip", "src_orc_roundtrip"],
    },
}

WARMUP_S = 22       # unmeasured passes after the first one
HEAP = "3g"
GC = "-XX:+UseParallelGC"  # sizes the heap more steadily than G1 here
RUN_LIMIT_S = 170   # a run's budget after the build
KEEP_FIXTURES = 6   # generated inputs kept in the cache

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


START = time.time()


def log(msg):
    print(f"[perfbench {time.time() - START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, cwd=None, env=None, stdout=None, stderr=None):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, timeout))
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_hash():
    h = hashlib.sha256()
    for top in (LIB_SOURCES, HARNESS):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; return the runtime classpath."""
    key = source_hash()
    cp_file = os.path.join(TARGET, "classpath." + key[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(TARGET, "build.log")
    log("building library and harness")
    with open(log_path, "w") as out:
        code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], 850, cwd=HARNESS, env=env,
                        stdout=out, stderr=subprocess.STDOUT)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit(f"build failed (exit {code})")
    cp = next(line for line in reversed(lines) if "scala-library" in line and ":" in line)
    for old in os.listdir(TARGET):
        if old.startswith("classpath."):
            os.remove(os.path.join(TARGET, old))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def java(cp, main, args, work, deadline, env_extra=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", GC] + JDK_OPENS +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            f"-Dspark.local.dir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args)
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               **(env_extra or {}))
    log_path = os.path.join(work, main.rsplit(".", 1)[-1] + ".log")
    with open(log_path, "w") as out:
        code = run_proc(cmd, deadline - time.time(), cwd=work, env=env,
                        stdout=out, stderr=subprocess.STDOUT)
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"{main} failed (exit {code})")


def fixture(seed, factor):
    """The seeded input directory, generated once per (seed, factor)."""
    root = os.path.join(TARGET, "fixtures")
    out = os.path.join(root, f"s{seed}_f{factor}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        os.utime(out)
        return out
    os.makedirs(root, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    done = sorted((d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))),
                  key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for old in done[:max(0, len(done) - KEEP_FIXTURES + 1)]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    log(f"generating input seed={seed} factor={factor}")
    gen.make(BASE_FIXTURE, out, seed, factor)
    open(os.path.join(out, "_COMPLETE"), "w").close()
    return out


def oracle_mismatches(gates, fixture_dir, verify_out, deadline):
    """Gates whose dumped output is missing, empty, or differs from the
    DuckDB oracle."""
    log_path = os.path.join(verify_out, "oracle_check.log")
    with open(log_path, "w") as out:
        run_proc([sys.executable, ORACLE_CHECK, fixture_dir, verify_out], deadline - time.time(),
                 stdout=out, stderr=subprocess.STDOUT)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    ok = set()
    for line in lines:
        parts = line.split()
        if len(parts) >= 2 and parts[0] == "OK":
            ok.add(parts[1])
        elif len(parts) >= 3 and parts[0] == "ROWSONLY" and parts[-1] == "OK":
            ok.add(parts[1].rstrip(":"))
    bad = [g for g in gates if g not in ok]
    for line in lines:
        if line.split()[:1] and line.split()[0] not in ("OK", "ROWSONLY"):
            log(line)
    return bad


def main():
    # a terminated run still kills and reaps its children (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--save", help="also write every metric, the raw run record and "
                                   "(traced) the per-gate layer table to this JSON file")
    a = ap.parse_args()
    for need in (LIB_SOURCES, ORACLE_CHECK):
        if not os.path.exists(need):
            raise SystemExit(f"not a checkout of the library: {os.path.relpath(need, ROOT)} missing")
    wl = WORKLOADS[a.workload]

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(TARGET, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fix = fixture(a.seed, wl["factor"])
        raw_path = os.path.join(work, "raw.json")
        verify_out = os.path.join(work, "verify")
        log(f"running {a.workload} at local[{a.cpus}] for {a.seconds:g} s, trace={a.trace}")
        java(cp, "perfbench.Harness",
             ["--gates", ",".join(wl["gates"]), "--fixture", fix, "--warmup", str(WARMUP_S),
              "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(a.cpus),
              "--out", raw_path, "--verify-out", verify_out],
             work, deadline, {"SPARK_GRAFT_ONLY": ",".join(wl["gates"]),
                              "SPARK_GRAFT_CPUS": str(a.cpus)})
        with open(raw_path) as fh:
            raw = json.load(fh)
        log("checking outputs against the oracle")
        bad = oracle_mismatches(wl["gates"], fix, verify_out, deadline)
        log("done")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = metrics.end_to_end(raw)
    info["oracle_mismatches"] = len(bad)
    info["mismatched_gates"] = bad
    if a.trace:
        values, units = metrics.per_layer(raw), metrics.PER_LAYER_UNITS
    else:
        values, units = e2e, metrics.END_TO_END_UNITS
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {metrics.END_TO_END_UNITS[k]}")
    print(f"query_tail_s {info['query_tail_s']:.6g} s (p{info['query_tail_pct']:.3g}, "
          f"n={info['query_tail_n']}, passes={info['passes']})")
    print(f"failed_frac {info['failed_frac']:.6g} ratio ({info['failed']}/{info['attempted']})")
    print(f"oracle_mismatches {len(bad)} count {' '.join(bad)}")
    if a.trace:
        for k, v in values.items():
            print(f"{k} {v:.6g} {units[k]}")
    if a.save:
        with open(a.save, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "trace": a.trace, "cpus": a.cpus, "end_to_end": e2e, "info": info,
                       "per_layer": values if a.trace else None,
                       "layers": metrics.layer_table(raw) if a.trace else None,
                       "raw": raw}, fh)
    correct = not bad
    print(json.dumps({"correct": correct, "attempted": info["attempted"],
                      "failed": info["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.stdout.flush()
    return 0 if correct and info["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
