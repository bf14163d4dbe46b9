"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the program. One process, one client,
Spark in local mode with one thread per available core. The run:

  1. generates its input tables from --seed (a child process, so the
     generator's memory does not count towards peak_rss_mb);
  2. sets up: SparkDB.open (which starts the JVM), data registration and
     a warm-up query. setup_s runs from the start of this process to the
     end of the set-up, less the time the input generator took;
  3. runs the workload's pass once (first_pass_s), on an empty artifact
     store. Then it closes the session and opens a new one in the same
     JVM, so that the next pass serves the artifacts the cold pass
     committed from disk, as a new session of the program would. It runs
     the pass again until --seconds have passed since the first pass
     began, and at least MIN_MEASURED more times. pass_s sums, over the
     pass's operations, each operation's fastest time in those measured
     passes: time taken from the run by other tenants of the machine
     (CPU steal) only ever adds, so the fastest of a few repeats is the
     steadiest estimate of each operation's own cost. peak_rss_mb is
     the peak resident memory of this process plus the JVM after the
     first 1 + MIN_MEASURED passes, so that it covers the same work in
     every run;
  4. checks every output of every pass against DuckDB;
  5. stops Spark and the JVM and waits for them, then prints one JSON line.

--trace 1 wraps the program's public calls with spans and reports the
per-layer metrics instead of the end-to-end ones; the spans go to
perfbench/out/. Every run writes its record, host facts included, to
perfbench/out/ as well.
"""

from __future__ import annotations

import argparse
import faulthandler
import glob
import hashlib
import json
import logging
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(HERE, "out")
MIN_MEASURED = 5
# per-layer metrics printed by a traced run: name -> unit. Times that are
# zero by construction on one workload (dialect.translate_ms on the operator
# plans, operators.build_ms on the session, ...) are in the run record only.
PER_LAYER = {
    "dialect.statements": "count",
    "session.python_ms": "ms",
    "session.temp_view_calls": "1/stmt",
    "session.fetch_batches": "count",
    "session.fetch_mb": "MB",
    "sources.rows": "count",
    "writers.bytes": "B",
    "operators.build_jobs": "count",
    "artifacts.builds": "count",
    "artifacts.reloads": "count",
    "streaming.batches": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_ms": "ms",
    "spark.task_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
}
# run totals rather than per-measured-pass means: these happen in the first pass
RUN_TOTALS = ("artifacts.builds", "artifacts.reloads")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "duckdb_wasm_spark", "session.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


def program_digest() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "duckdb_wasm_spark", "**", "*.py"), recursive=True))
    for f in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return "unknown (not a git checkout)"
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    loose = os.path.join(ROOT, ".git", ref)
    if os.path.isfile(loose):
        return open(loose).read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.isfile(packed):
        for line in open(packed):
            if line.rstrip().endswith(" " + ref):
                return line.split()[0]
    return "unknown"


def host_facts() -> dict:
    import duckdb
    import pyspark

    from duckdb_wasm_spark.plans import reference_sql

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "commit": git_commit(),
        "program_sha256_16": program_digest(),
        # the reference corpus the program's reference_sql plans read
        "reference_mounted": os.path.isdir(reference_sql.TPCH_DIR),
    }


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def outside_load(t0: list[int], t1: list[int]) -> dict:
    """Shares of the machine's CPU time between two cpu_ticks() readings:
    busy (user+nice+system+irq+softirq) and steal (taken by the host)."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8]) or 1
    return {"busy": (d[0] + d[1] + d[2] + d[5] + d[6]) / total, "steal": d[7] / total}


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def rss_kb(pid, field="VmHWM") -> int:
    """Peak (VmHWM) or current (VmRSS) resident set of a process, in kB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for f in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                kids = [int(x) for x in open(f).read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def wipe_store_entries(prefix: str) -> int:
    """Remove artifact-store entries built from data under `prefix`,
    so every run starts from the same (empty) store state."""
    n = 0
    for marker in glob.glob(os.path.join(ROOT, "spark-warehouse", "*", "*", "*", "_SOURCE_DIR")):
        try:
            src = open(marker).read().strip()
        except OSError:
            continue
        if src.startswith(prefix):
            shutil.rmtree(os.path.dirname(marker), ignore_errors=True)
            n += 1
    return n


def stop_jvm(spark) -> None:
    """Stop Spark, then close the JVM's stdin (the py4j gateway server
    exits on EOF) and wait for the JVM and its Python workers to end.
    py4j's own shutdown calls can block on the callback server's socket,
    so they are not used."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def best_pass_s(records) -> float:
    """Sum of each operation's fastest time over the measured passes."""
    best: dict[str, float] = {}
    for r in records:
        if r["measured"] and r["ok"]:
            best[r["label"]] = min(best.get(r["label"], r["wall_s"]), r["wall_s"])
    return sum(best.values())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale")
    a = ap.parse_args()
    faulthandler.register(signal.SIGUSR1)  # `kill -USR1 <pid>` prints the stacks

    if not program_present():
        log("perfbench: duckdb_wasm_spark/ and __spark_entry__.py not found in", ROOT)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        log("perfbench: unknown workload", a.workload, "- one of", sorted(WORKLOADS))
        return 2
    W = WORKLOADS[a.workload]
    sf = a.sf if a.sf is not None else W.sf

    # everything the run writes stays under the checkout
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{a.workload}-{os.getpid()}")
    for old in glob.glob(os.path.join(base, "*-*")):
        pid = old.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(old, ignore_errors=True)
    data = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    for d in (data, tmp, os.path.join(work, "spark-local"), OUT):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    wipe_store_entries(base)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "sf": sf, "load_start": os.getloadavg()}
    ticks0 = cpu_ticks()
    t = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), data, str(a.seed), str(sf)],
        stdout=subprocess.PIPE, check=True,
    )
    record["data"] = {"dir": os.path.relpath(data, ROOT), "rows": json.loads(gen.stdout),
                      "gen_s": time.perf_counter() - t}

    # ------------------------------------------------------------ set-up
    wl = W(data, work, a.seed, len(os.sched_getaffinity(0)))
    spark = wl.setup()
    setup_s = process_age_s() - record["data"]["gen_s"]
    record["host"] = {**host_facts(), "java": spark._jvm.System.getProperty("java.version")}
    tracer = None
    if a.trace:
        import layers

        tracer = layers.Tracer(os.path.join(ROOT, "spark-warehouse"))
        tracer.install()
        tracer.attach(spark)
        wl.span = tracer.span

    # ---------------------------------------------------------- measure
    records, outputs, passes, rss = [], [], [], []
    attempted = failed = 0
    op_id = 0
    w0 = time.perf_counter()
    p = 0  # pass 0 is the cold pass; the passes after it are measured
    while p <= MIN_MEASURED or time.perf_counter() - w0 < a.seconds:
        if p == 1:  # a new session over the store the cold pass committed
            t = time.perf_counter()
            if tracer:
                tracer.detach()
            wl.teardown()
            spark.stop()
            spark = wl.setup()
            if tracer:
                tracer.attach(spark)
            record["reopen_s"] = time.perf_counter() - t
        ps = time.perf_counter()
        for kind, label, fn in wl.ops(p):
            attempted += 1
            t = time.perf_counter()
            ok, out = True, None
            try:
                if tracer:
                    with tracer.op(op_id, kind, label, p):
                        out = fn()
                else:
                    out = fn()
            except Exception as e:  # counted, reported, and the run goes on
                ok = False
                failed += 1
                log(f"perfbench: pass {p} {label} failed: {type(e).__name__}: {str(e)[:300]}")
            wall = time.perf_counter() - t
            rows = getattr(out, "num_rows", None)
            if rows is None and isinstance(out, tuple):
                rows = len(out[1])
            records.append({"pass_no": p, "measured": p >= 1, "kind": kind,
                            "label": label, "ok": ok,
                            "wall_s": wall, "rows": rows or 0})
            if ok:
                outputs.append((p, kind, label, out))
            op_id += 1
        passes.append(time.perf_counter() - ps)
        jvm = spark.sparkContext._gateway.proc.pid
        rss.append((rss_kb(os.getpid()) + rss_kb(jvm)) / 1024)
        p += 1

    if tracer:
        tracer.uninstall()
    t = time.perf_counter()
    wl.teardown()
    stop_jvm(spark)
    record["teardown_s"] = time.perf_counter() - t
    # py4j objects collected from here on cannot reach the JVM; that is expected
    logging.disable(logging.CRITICAL)

    # ------------------------------------------------------------ check
    t = time.perf_counter()
    bad = wl.check(outputs)
    for msg in bad[:20]:
        log("perfbench: MISMATCH", msg)
    record["check_s"] = time.perf_counter() - t

    n_measured = len(passes) - 1
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (passes[0], "s"),
        "pass_s": (best_pass_s(records), "s"),
        "peak_rss_mb": (rss[MIN_MEASURED], "MB"),
    }
    record.update({
        "passes_s": passes, "peak_rss_mb_by_pass": rss,
        "attempted": attempted,
        "failed": failed, "mismatches": bad, "ops": records,
        "kinds": wl.kinds(records), "load_end": os.getloadavg(),
        "cpu_shares": outside_load(ticks0, cpu_ticks()),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    })
    if tracer:
        # every traced quantity, per measured pass; RUN_TOTALS over the run
        mops = [o for o in tracer.ops if o["pass_no"] >= 1]
        keys = [k for k, v in tracer.ops[0].items()
                if isinstance(v, (int, float)) and k not in ("op", "pass_no", "coverage")]
        layer = {k: sum(o[k] for o in mops) / n_measured for k in keys}
        layer.update({k: sum(o[k] for o in tracer.ops) for k in RUN_TOTALS})
        st = layer["dialect.statements"]
        layer["session.temp_view_calls"] = layer["session.temp_view_calls"] / st if st else 0.0
        layer["sources.rows"] = sum(
            r["rows"] for r in records if r["measured"] and r["kind"] == "ingest"
        ) / n_measured
        covs = [o["coverage"] for o in tracer.ops]
        record["per_layer"] = layer
        record["coverage_min"] = min(covs)
        record["coverage_median"] = statistics.median(covs)
        tracer.dump(
            os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.json"),
            {"workload": a.workload, "seed": a.seed},
        )
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    with open(os.path.join(OUT, f"run-{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    log("perfbench:", json.dumps({"setup_s": setup_s, "passes_s": passes,
                                  "kinds": record["kinds"], "host": record["host"],
                                  "load": [record["load_start"], record["load_end"]],
                                  "cpu_shares": record["cpu_shares"]}))
    shutil.rmtree(work, ignore_errors=True)
    wipe_store_entries(base)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
