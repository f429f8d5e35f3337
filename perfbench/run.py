#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <frame-ops|ingest-pipeline>
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny] [--fault <op>]

Run from the repository root. It builds the program and the harness
from source with sbt (once per source state; the classpath is cached
under .bench_build/), generates the seeded inputs, runs the harness JVM
(perfbench.Main) under the program's own bench session, checks every
op's output (lanes against their DuckDB twins through
tools/check_oracle.py, frame stages against DuckDB over the same CSV),
and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). The line before it is a report with every end-to-end
figure, the frame stage times and the run's stamps.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 165

WORKLOADS = ("frame-ops", "ingest-pipeline")
# frame CSV rows, corpus documents, corpus embeddings
SIZES = {"full": (250_000, 1_000, 400), "tiny": (20_000, 500, 200)}
HEAP = "3g"
# a fixed young generation: every run cycles through all of it, so the
# peak RSS tracks the old generation's live data, not G1's adaptive sizing
YOUNG = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# frame stages reported as end-to-end figures of frame-ops
FRAME_STAGES = {"read_s": ["read"], "write_s": ["write"], "sort_s": ["sort"],
                "scan_ops_s": ["filter", "group", "to_matrix"],
                "pipeline_lazy_s": ["pipeline_lazy"], "pipeline_eager_s": ["pipeline_eager"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads: both builds and all sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath(fingerprint):
    """Builds the program and the harness; returns the runtime classpath."""
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fingerprint:
            return c["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={tmp}").strip()
    out_path = os.path.join(BUILD, "sbt.log")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       HERE, env, 880, out, subprocess.STDOUT)
    with open(out_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {out_path}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cache, "w") as f:
        json.dump({"fingerprint": fingerprint, "classpath": cp[-1]}, f)
    return cp[-1]


def git_rev():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()[:12]
        return ref[:12]
    except OSError:
        return "unknown"


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def check_lanes(corpus_dir, checks_dir):
    """Hash-compares each lane dump with its DuckDB twin (tools/check_oracle.py)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(corpus_dir, checks_dir)
    verdict = {}
    for line in buf.getvalue().splitlines():
        parts = line.strip().split(" ", 2)
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = (parts[0] == "PASS", line.strip())
    return verdict


def same_rows(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0):
                    return False
            elif a != b:
                return False
    return True


def check_frame(frame_dir, checks):
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW frame AS SELECT * FROM "
                f"read_csv('{frame_dir}/*.csv', header = true)")
    verdict = {}
    for c in checks:
        if c["sql"]:
            want = [list(r) for r in con.execute(c["sql"]).fetchall()]
            verdict[c["op"]] = (same_rows(c["rows"], want),
                                f"{c['op']}: {c['rows']} vs duckdb {want}")
    return verdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--fault", default="", help="op whose output is corrupted (self-test)")
    a = ap.parse_args()
    # a TERM unwinds through run_group, which kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala", "tools/check_oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if shutil.which("java") is None:
        fail("java not found")

    fp = source_fingerprint()
    cp = classpath(fp)
    t_start = time.time()  # the run's own time limit starts after any build

    sys.path.insert(0, HERE)
    import gen
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "out"):
        os.makedirs(os.path.join(run_dir, d))
    frame_dir = os.path.join(run_dir, "inputs", "frame")
    corpus_dir = os.path.join(run_dir, "inputs", "corpus")
    frame_rows, docs, vecs = SIZES[a.size]
    t0 = time.time()
    if a.workload == "frame-ops":
        inputs = gen.frame(frame_dir, a.seed, frame_rows)
    else:
        inputs = gen.corpus(corpus_dir, a.seed, docs, vecs)
    gen_s = time.time() - t0

    nproc = os.cpu_count() or 1
    cpus = min(4, nproc)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out_dir = os.path.join(run_dir, "out")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/spark-local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse"]
           # the traced run counts Hadoop FS calls through perfbench.CountingFs
           + (["-Dspark.hadoop.fs.file.impl=perfbench.CountingFs"] if a.trace else [])
           + ["-cp", cp, "perfbench.Main", a.workload, str(a.seconds), str(a.trace),
              frame_dir, str(frame_rows), corpus_dir, out_dir, a.fault])
    steal0 = steal_s()
    jvm_log = os.path.join(BUILD, "jvm.log")
    with open(jvm_log, "w") as lf:
        rc = run_group(cmd, ROOT, env, RUN_LIMIT_S - (time.time() - t_start), lf,
                       subprocess.STDOUT)
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"harness exited {rc}; see {jvm_log}")
    with open(result_path) as f:
        r = json.load(f)
    log(f"inputs {gen_s:.1f} s, harness {time.time() - t0 - gen_s:.1f} s")

    # ---- output checks: JVM verdicts, then the DuckDB comparisons ----
    checks_dir = os.path.join(out_dir, "checks")
    if a.workload == "frame-ops":
        duck = check_frame(frame_dir, r["checks"])
    else:
        by_full = check_lanes(corpus_dir, checks_dir)
        duck = {full.split("_")[0]: v for full, v in by_full.items()}
    failures = [f"op error: {e}" for e in r["errors"]]
    for c in r["checks"]:
        ok, why = c["ok"], c["detail"]
        if ok and c["op"] in duck:
            ok, why = duck[c["op"]]
        elif ok and a.workload != "frame-ops":
            ok, why = False, "no oracle verdict"
        if not ok:
            failures.append(f"check {c['op']}: {why}")
    log(f"checked at {time.time() - t_start:.1f} s")
    for msg in failures:
        log(f"FAILED {msg}")
    attempted, failed = r["attempted"], len(failures)

    # ---- report: every end-to-end figure with its unit, and the stamps ----
    report = {
        "setup_s": {"value": r["setup"]["setup_s"], "unit": "s", "n": 1},
        "wall_s": {"value": r["wall_s"], "unit": "s", "n": r["measured_passes"]},
        "cpu_s": {"value": r["cpu_s"], "unit": "s", "n": r["measured_passes"]},
        "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MiB"},
        "ops_failed": {"value": failed / attempted, "unit": "share",
                       "failed": failed, "attempted": attempted},
    }
    if a.workload == "frame-ops":
        for name, ops in FRAME_STAGES.items():
            report[name] = {"value": sum(r["op_wall_s"][o] for o in ops), "unit": "s",
                            "n": r["measured_passes"]}
    stamps = {"workload": a.workload, "seed": a.seed, "size": a.size, "trace": a.trace,
              "rev": git_rev(), "src_fingerprint": fp, "nproc": nproc, "k": cpus,
              "loadavg_start": r["loadavg_start"], "loadavg_end": r["loadavg_end"],
              "steal_s": round(steal_s() - steal0, 2),
              "gen_s": round(gen_s, 3), **inputs,
              "pass_wall_s": [round(p["wall_s"], 3) for p in r["passes"]],
              "setup_parts_s": {k: round(v, 3) for k, v in r["setup"].items()}}
    print("perfbench report: " + json.dumps({"stamps": stamps, "end_to_end": report}))

    if a.trace:
        metrics = {m["name"]: {"value": r["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {k: v["value"] for k, v in report.items()}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
