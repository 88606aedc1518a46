#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The first run builds graft's sources plus
the benchmark driver with the benchmark's own sbt project (offline) and
caches the classpath under perfbench/.build; later runs reuse it until a
source changes.  Each run then:

1. generates the workload's inputs from the seed (gen.py),
2. launches one JVM (Spark local[nproc], one client) that sets up, warms
   up, runs the timed region and writes the check outputs,
3. checks every output against the DuckDB oracles (check.py),
4. prints one JSON summary as the last line of stdout.

With --trace 0 the summary carries the end-to-end metrics, with --trace 1
the per-layer metrics (the span/per-op artifact is left in
perfbench/.work/<workload>/trace.json).  A failed check makes the exit
code nonzero.  Workloads and their sizes are in workloads.json.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(BENCH, ".build")
JVM_TIMEOUT_S = 170

# No latency percentile above the median: a run carries 3-12 samples, and
# a percentile is reported only with at least ten samples beyond it.
END_TO_END = {
    "latency_p50_s": "s", "rows_per_s": "rows/s",
    "cpu_s_per_op": "s", "peak_heap_mb": "MB", "on_time_ratio": "ratio",
    "setup_s": "s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s", "jvm.jit_s": "s", "jvm.jit_timed_s": "s", "jvm.jit_cpu_timed_s": "s",
    "jvm.gc_s": "s", "jvm.gc_cpu_timed_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.exchanges": "count", "plan.codegen_ratio": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.tasks_failed": "count", "exec.driver_gap_s": "s", "exec.core_busy_ratio": "ratio",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.task_skew": "ratio", "exec.spill_mem_bytes": "bytes",
    "exec.spill_disk_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    "exec.stages_recomputed": "count", "scan.rows_read": "rows", "scan.bytes_read": "bytes",
    "publish.bytes_written": "bytes", "publish.files_written": "count",
    "publish.write_amp": "ratio",
    "decode.grib_mb_per_s": "MB/s", "decode.nc_mb_per_s": "MB/s",
    "decode.tile_mb_per_s": "MB/s", "decode.tiff_mb_per_s": "MB/s",
    "decode.quarantine_ratio": "ratio",
    "kernel.gamma_cdf_ns": "ns", "kernel.gamma_pinv_ns": "ns",
    "kernel.norm_quantile_ns": "ns", "kernel.spline_fit_us": "us", "kernel.splev_ns": "ns",
    "kernel.shingles_us": "us", "kernel.minhash_sig_us": "us", "kernel.simhash_us": "us",
    "kernel.cosine_ns": "ns", "kernel.topk_cosine_us": "us", "kernel.dtw_banded_us": "us",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.query_start_ms": "ms", "stream.state_rows": "rows",
    "stream.state_mem_bytes": "bytes", "stream.rows_dropped_late": "rows",
    "gen.late_p90_s": "s",
    "trace.untraced_p50_s": "s", "trace.traced_p50_s": "s", "trace.overhead_ratio": "ratio",
}
# The per-layer metrics carried in the summary line (one or more per layer,
# the ones an optimisation is most likely to move; the line must stay
# under ~2000 characters). The traced run prints the whole table above on
# stderr and writes it to perfbench/.work/<workload>/layers.json.
PER_LAYER_SUMMARY = [
    "jvm.jit_s", "jvm.jit_timed_s", "jvm.gc_cpu_timed_s", "operators.build_s", "plan.optimization_s", "plan.exchanges",
    "exec.jobs", "exec.driver_gap_s", "exec.core_busy_ratio", "exec.task_run_s",
    "exec.task_cpu_s", "exec.shuffle_write_bytes", "exec.task_skew",
    "exec.peak_exec_mem_bytes", "exec.stages_recomputed", "scan.rows_read",
    "publish.bytes_written", "decode.grib_mb_per_s", "decode.quarantine_ratio",
    "kernel.gamma_cdf_ns", "kernel.minhash_sig_us", "kernel.dtw_banded_us",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.state_rows", "gen.late_p90_s",
    "trace.overhead_ratio",
]
# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# default module options).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile (offline) unless the cached classpath matches the sources."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", f"-Dperfbench.sparkJars={spark_jars()}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft + benchmark driver (sbt, offline)")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime / fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln.strip() for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    log(f"built in {time.time() - t:.0f}s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def launch(cp, work, args, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the repo's own run settings (build.sbt javaOptions): default JIT and GC
    cmd += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={work}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--data", f"{work}/data", "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--cpus", str(os.cpu_count() or 4),
            "--launch-ms", str(int(time.time() * 1000))] + extra
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log("JVM timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return p.returncode


def jvm_tail(work, n=40):
    try:
        with open(os.path.join(work, "jvm.log")) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    # a terminated run still stops the JVM and the lander it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help="work directory (default perfbench/.work/<workload>)")
    ap.add_argument("--spec", default=os.path.join(BENCH, "workloads.json"),
                    help="workload definitions (default perfbench/workloads.json)")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="self-test hook: corrupt one check output before checking")
    args = ap.parse_args()

    with open(args.spec) as f:
        specs = json.load(f)
    if args.workload not in specs:
        sys.exit(f"perfbench: unknown workload {args.workload}; have {sorted(specs)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources (src/main/scala/graft) not found next to perfbench/")
    spec = specs[args.workload]

    cp = build()
    work = os.path.abspath(args.work or os.path.join(BENCH, ".work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    manifest = gen.generate(spec, args.seed, data)
    rows = ",".join(f"{k}={v['rows']}" for k, v in manifest["tables"].items())
    extra = ["--rows", rows or "none=0", "--loop", spec["loop"],
             "--latency-limits", ",".join(f"{k}={v}" for k, v in spec["latency_limit_s"].items())]

    lander = None
    if spec["loop"] == "open":
        drops = manifest["drops"]
        os.makedirs(os.path.join(work, "drops"))
        staged = os.path.join(data, "staged")
        os.rename(os.path.join(staged, drops[0]["name"]),
                  os.path.join(work, "drops", drops[0]["name"]))
        for d in drops:
            d["path"] = os.path.join(work, "drops", d["name"])
        extra += ["--interval-ms", str(spec["interval_ms"]),
                  "--drop-rows", ",".join(str(d["rows"]) for d in drops),
                  "--drop-bytes", ",".join(str(d["bytes"]) for d in drops)]
        lander = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "lander.py"), staged,
             os.path.join(work, "drops"), os.path.join(work, "ready"),
             os.path.join(work, "landed.log")] + [d["name"] for d in drops[1:]],
            stdin=subprocess.DEVNULL)

    t_jvm = time.time()
    try:
        rc = launch(cp, work, args, extra)
    finally:
        if lander is not None:
            if lander.poll() is None:
                lander.kill()
            lander.wait()
    try:
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
    except (OSError, ValueError):
        sys.stderr.write(jvm_tail(work))
        sys.exit(f"perfbench: JVM exited {rc} without a result")
    if "error" in res:
        sys.stderr.write(jvm_tail(work))
        sys.exit(f"perfbench: run failed: {res['error']}")

    log(f"JVM {time.time() - t_jvm:.1f}s: setup {res['setup_s']:.1f}s, then "
        + ", ".join(f"{k} {v:.1f}s" for k, v in res["phase_s"].items()))
    t_chk = time.time()
    # --- output checks (untimed) ---------------------------------------
    chk = res["checks"]
    if spec["loop"] == "open":
        results = check.check_cron(chk["published"], chk["rollup"], manifest["drops"],
                                   {0} | {k for k, _, _ in landed_log(work)}, chk["last_drop"])
    else:
        check_dir = os.path.join(work, "check")
        if args.plant_wrong and chk["queries"]:
            plant_wrong_output(os.path.join(check_dir, chk["queries"][0]))
        con = check.connect(data)
        results = check.check_queries(con, check_dir, chk["queries"], chk["oracle_sql"])
        results += check.check_registry(con, chk["registry"], chk["oracle_sql"])
        results += [(k, False, v) for k, v in chk["errors"].items()]
    log(f"checks {time.time() - t_chk:.1f}s")
    bad = [r for r in results if not r[1]]
    for name, ok, detail in results:
        log(f"check {'OK  ' if ok else 'FAIL'} {name}: {detail}")

    t = res["timed"]
    attempted = t["samples"]
    failed = t["failed"]
    # an op whose checked output is wrong failed on every timed execution
    for name, ok, _ in bad:
        if name not in t["failed_ops"]:
            failed += t["op_counts"].get(name, 0) or 1
    correct = not bad and failed == 0

    if args.trace:
        metrics = per_layer(res, work)
    else:
        vals = {k: t[k] for k in END_TO_END if k != "setup_s"}
        vals["setup_s"] = res["setup_s"]
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        log(f"{t['samples']} ops in {t['wall_s']:.2f}s (jit {t['jit_s']:.1f}s, jit cpu {t['jit_cpu_s']:.1f}s, gc cpu {t['gc_cpu_s']:.1f}s); "
            f"per-op p50 " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(t["per_op_p50_s"].items())))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    sys.exit(0 if correct else 1)


def landed_log(work):
    """(k, due_ms, landed_ms) per drop the lander renamed into place."""
    try:
        with open(os.path.join(work, "landed.log")) as f:
            return [tuple(int(x) for x in ln.split()) for ln in f if ln.strip()]
    except OSError:
        return []


def per_layer(res, work):
    lay = dict(res["layers"])
    lay["session.start_s"] = res["session_start_s"]
    lay["jvm.jit_s"] = res["jvm_jit_s"]
    lay["jvm.gc_s"] = res["jvm_gc_s"]
    late = [(landed - due) / 1000.0 for _, due, landed in landed_log(work)]
    lay["gen.late_p90_s"] = statistics.quantiles(late, n=10)[-1] if len(late) >= 2 else 0.0
    lay["jvm.jit_timed_s"] = res["timed"]["jit_s"]
    lay["jvm.jit_cpu_timed_s"] = res["timed"]["jit_cpu_s"]
    lay["jvm.gc_cpu_timed_s"] = res["timed"]["gc_cpu_s"]
    u, t = res["timed"]["latency_p50_s"], res["timed"]["traced_p50_s"]
    lay["trace.untraced_p50_s"] = u
    lay["trace.traced_p50_s"] = t
    lay["trace.overhead_ratio"] = t / u - 1.0 if u and t else 0.0
    table = {k: {"value": float(lay.get(k, 0.0)), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    width = max(len(k) for k in table)
    for k, m in table.items():
        log(f"{k:<{width}} {m['value']:>14.6g} {m['unit']}")
    with open(os.path.join(work, "layers.json"), "w") as f:
        json.dump(table, f, indent=1)
    log(f"per-layer table: {os.path.join(work, 'layers.json')}; "
        f"spans and per-op rows: {os.path.join(work, 'trace.json')}")
    return {k: table[k] for k in PER_LAYER_SUMMARY}


def plant_wrong_output(path):
    """Self-test hook: drop the first row of one query's checked output."""
    import pyarrow.parquet as pq
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(path, f))
            pq.write_table(t.slice(1), os.path.join(path, f))
            return


if __name__ == "__main__":
    main()
