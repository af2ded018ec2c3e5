#!/usr/bin/env python3
"""Benchmark launcher: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_medallion --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates the seeded inputs (cached under
perfbench/.cache, never timed), sizes Spark to the host through the
package's own environment knobs (SPARK_GRAFT_CPUS = half the cores,
SPARK_GRAFT_DRIVER_MEM = a quarter of MemTotal), starts the workload in a
child process (perfbench/workloads.py) on a C1-only JVM and prints:

- one human line per end-to-end metric, by name with its unit and sample
  count, and the host fingerprint;
- as the last line, one JSON object: correct, attempted, failed, metrics.
  `--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
  runs with Spark's event log on and spans around the package's public
  functions, and reports the per-layer metrics.

Exit status is 1 when an output check failed (after printing), 2 when the
run could not be made at all (nothing printed on stdout).

    python3 perfbench/run.py --compare A.json B.json

compares two saved records (perfbench/.results) and refuses records taken
on different hosts. See perfbench/README.md for workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import signal
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "prueba_tecnica_http_client_etl_spark"
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("etl_medallion", "corpus_tier")
END_TO_END = {  # name -> unit, as in BENCHMARK.json
    "setup_s": "s",
    "cpu_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}
# input sizes per workload (see perfbench/README.md)
ETL = {"n_windows": 3, "rows_per_window": 4_000}
CORPUS = {"n_docs": 500, "n_vecs": 500}
ARRIVALS = {"n_passes": 12, "batches_per_pass": 1, "per_batch": 40}
CHILD_TIMEOUT_S = 160


def host_fingerprint() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "machine": platform.machine(),
    }


def spark_cores() -> int:
    """Task threads the run's Spark gets: half the cores. The JIT, the GC,
    the Python driver and the Python workers run beside the task threads,
    and on a shared host a stage waits for its slowest task thread."""
    return max(1, host_fingerprint()["nproc"] // 2)


def versions() -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    from importlib.metadata import version

    return {
        "python": platform.python_version(),
        "pyspark": version("pyspark"),
        "duckdb": version("duckdb"),
        "java": java[0] if java else "unknown",
    }


def tree_digest(paths: list[str]) -> str:
    """sha256 over the files under paths (sorted), standing in for the
    commit id: the checkout the benchmark runs in is not a git tree."""
    h = hashlib.sha256()
    for top in paths:
        for root, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
            for name in sorted(files):
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def generate(workload: str, seed: int) -> str:
    """Seeded inputs for one (workload, seed), written once and reused."""
    import gen

    out = os.path.join(HERE, ".cache", f"{workload}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "etl_medallion":
        counts = gen.write_http_log(out, seed, **ETL)
        with open(os.path.join(out, "counts.json"), "w") as f:
            json.dump(counts, f)
    else:
        gen.write_corpus(out, seed, **CORPUS)
        base = gen.corpus_texts(seed, CORPUS["n_docs"])
        docs = gen.write_arrivals(os.path.join(out, "arrivals"), seed, base, **ARRIVALS)
        with open(os.path.join(out, "arrivals.json"), "w") as f:
            json.dump({"docs": docs, **ARRIVALS}, f)
    with open(os.path.join(out, "_DONE"), "w"):
        pass
    return out


def child_env(work: str, trace: bool) -> dict:
    host = host_fingerprint()
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(spark_cores())
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(16, host['mem_total_kb'] // (4 * 1024 * 1024)))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # Python workers start in the work directory: let them import the package
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files outside the checkout; C1 only: a run is too short
    # for C2 to settle, and when it does varies with host load, while C1
    # code is steady from the second pass on. C1 alone would shrink the code
    # cache to 48 MB, which Spark's generated classes fill: keep the tiered
    # default, or the sweeper flushes code and C1 recompiles it every pass
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    env["PYSPARK_PYTHON"] = sys.executable
    return env


def run_child(workload: str, seed: int, seconds: int, trace: bool, data: str, *, untraced_pass: bool = False) -> dict:
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "data": data,
           "work": work, "out": out, "warehouse": os.path.join(work, "warehouse"),
           "eventlog": os.path.join(work, "eventlog"), "untraced_pass": untraced_pass}
    env = child_env(work, trace)
    try:
        cfg["t0"] = time.monotonic()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "workloads.py"), json.dumps(cfg)],
                                cwd=work, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                                text=True, start_new_session=True)
        try:
            _, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            raise RuntimeError(f"{workload} run exceeded {CHILD_TIMEOUT_S}s")
        finally:
            _reap_group(proc.pid)
        if proc.returncode != 0 or not os.path.exists(out):
            raise RuntimeError(f"{workload} run failed (exit {proc.returncode}):\n{err[-4000:]}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _reap_group(pgid: int) -> None:
    """Stop anything the child left in its process group (the JVM) and
    wait until it is gone."""
    try:
        os.killpg(pgid, 15)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(pgid, 9)
    except ProcessLookupError:
        pass


def end_to_end(r: dict) -> dict:
    return {
        "setup_s": r["setup_s"],
        "cpu_s": r["cpu_s"],
        "stored_bytes_per_input_byte": r["notes"]["stored_bytes_per_input_byte"],
    }


# per-layer metrics (the traced run), name -> unit, as in BENCHMARK.json
PER_LAYER = {
    "wall_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "session.start_s": "s",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.eager_jobs": "count",
    "functions.artifacts.calls": "count",
    "functions.artifacts.hits": "count",
    "functions.artifacts.hit_ratio": "ratio",
    "functions.artifacts.build_s": "s",
    "functions.cachepool.persists": "count",
    "functions.cachepool.broadcasts": "count",
    "plans.pipeline.run_s": "s",
    "plans.layout.write_s.bronze": "s",
    "plans.layout.write_s.silver": "s",
    "plans.layout.write_s.gold": "s",
    "plans.layout.bytes_written": "bytes",
    "plans.layout.files_written": "count",
    "sinks.report.render_s": "s",
    "plans.lsh_index.probe_s_p50": "s",
    "plans.lsh_index.append_s_p50": "s",
    "plans.lsh_index.compact_s": "s",
    "plans.lsh_index.build_s": "s",
    "plans.lsh_index.table_files": "count",
    "plans.lsh_index.table_bytes": "bytes",
    "plans.lsh_index.novel_frac": "ratio",
    "plans.lsh_index.near_dup_frac": "ratio",
    "plans.lsh_index.exact_dup_frac": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.overhead_s_p50": "s",
    "spark.scan.time_s": "s",
    "spark.scan.bytes": "bytes",
    "spark.exchange.write_bytes": "bytes",
    "spark.exchange.write_s": "s",
    "spark.exchange.fetch_wait_s": "s",
    "spark.aggregate.build_s": "s",
    "spark.sort.time_s": "s",
    "spark.join.build_s": "s",
    "spark.python.run_s": "s",
    "spark.python.start_s": "s",
    "spark.python.bytes_sent": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "self_s.bench": "s",
    "self_s.registry": "s",
    "self_s.functions.artifacts": "s",
    "self_s.plans.pipeline": "s",
    "self_s.plans.layout": "s",
    "self_s.sinks.report": "s",
    "self_s.plans.lsh_index": "s",
    "self_s.streaming": "s",
    "trace.self_sum_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "host.canary_s": "s",
    "host.steal_frac": "ratio",
    "jvm.peak_rss_mb": "MB",
}
# span-name prefixes whose self time is reported as self_s.<layer>
LAYER_SPANS = ("bench", "registry", "functions.artifacts", "plans.pipeline", "plans.layout",
               "sinks.report", "plans.lsh_index", "streaming")
SELF_SUM_MARGIN = 0.05  # span self time must cover the timed wall within 5 %


def per_layer(r: dict, untraced_wall_s: float) -> dict:
    """Every PER_LAYER metric of a traced run; a layer the workload does
    not reach reads 0."""
    t, extra = r["trace"], r["extra"]
    counts, self_s, dur = t["counts"], t["self_s"], t["durations"]
    calls = counts.get("functions.artifacts.calls", 0)
    hits = counts.get("functions.artifacts.hits", 0)
    m = {k: 0.0 for k in PER_LAYER}
    m.update(t["spark"])
    m.update({k: v for k, v in extra.items() if k in PER_LAYER})
    m.update({
        "wall_s": r["wall_s"],
        "op_p50_s": stats.hd_median(r["op_s"]),
        "items_per_s": r["items_per_s"],
        "session.start_s": r["session.start_s"],
        "registry.plan_s": sum(dur["registry.plan"]),
        "registry.exec_s": sum(dur["registry.exec"]),
        "functions.artifacts.calls": calls,
        "functions.artifacts.hits": hits,
        "functions.artifacts.hit_ratio": hits / calls if calls else 0.0,
        "functions.artifacts.build_s": t["artifact_build_s"],
        "functions.cachepool.persists": counts.get("functions.cachepool.persists", 0),
        "functions.cachepool.broadcasts": counts.get("functions.cachepool.broadcasts", 0),
        "plans.pipeline.run_s": sum(dur["plans.pipeline"]),
        "plans.layout.bytes_written": counts.get("plans.layout.bytes_written", 0),
        "plans.layout.files_written": counts.get("plans.layout.files_written", 0),
        "sinks.report.render_s": sum(dur["sinks.report"]),
        "plans.lsh_index.probe_s_p50": stats.median(dur["plans.lsh_index.probe"] or [0.0]),
        "plans.lsh_index.append_s_p50": stats.median(dur["plans.lsh_index.append"] or [0.0]),
        "spark.busy_frac": t["spark"]["spark.executor_run_s"] / (t["timed_s"] * spark_cores()),
        "trace.self_sum_frac": sum(self_s.values()) / t["timed_s"],
        "trace.overhead_frac": r["wall_s"] / untraced_wall_s - 1,
        "host.canary_s": stats.median(r["host.canary_s"]),
        "host.steal_frac": r["host.steal_frac"],
        "jvm.peak_rss_mb": r["jvm_peak_rss_mb"],
    })
    for layer in ("bronze", "silver", "gold"):
        m[f"plans.layout.write_s.{layer}"] = t["layout_write_s"][layer]
    for layer in LAYER_SPANS:
        m[f"self_s.{layer}"] = sum(v for k, v in self_s.items() if k == layer or k.startswith(layer + "."))
    if set(m) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics out of step with PER_LAYER: {sorted(set(m) ^ set(PER_LAYER))}")
    return m


def human_lines(workload: str, r: dict) -> list[str]:
    ops = r["op_s"]
    lines = [
        f"setup_s {r['setup_s']:.3f} s",
        f"cpu_s {r['cpu_s']:.3f} s (Harrell-Davis median of {r['passes']} passes; CPU of the JVM and Python)",
        f"wall_s {r['wall_s']:.3f} s (Harrell-Davis median of {r['passes']} passes)",
        f"op_p50_s {stats.hd_median(ops):.4f} s (Harrell-Davis median, n={len(ops)})",
    ]
    t = stats.tail(ops)
    lines.append(f"op_p{t[0]:g}_s {t[1]:.4f} s (n={t[2]})" if t else
                 f"op tail: fewer than {2 * stats.MIN_BEYOND} ops (n={len(ops)}), no tail percentile")
    if workload == "etl_medallion":
        lines.append(f"rows_per_s {r['items_per_s']:.1f} rows/s (raw log lines)")
    else:
        lines.append(f"ops_per_s {r['items_per_s']:.4f} 1/s (micro-batches, compactions and queries)")
    lines.append(f"stored_bytes_per_input_byte {r['notes']['stored_bytes_per_input_byte']:.4f} ratio")
    lines.append(f"failed_frac {stats.failed_frac(r['attempted'], r['failed']):.4f} ratio "
                 f"({r['failed']}/{r['attempted']} ops)")
    lines.append(f"jvm_peak_rss_mb {r['jvm_peak_rss_mb']:.1f} MB")
    lines.append("host.canary_s " + " ".join(f"{c:.3f}" for c in r["host.canary_s"]) + " s (before, after)")
    lines.append(f"host.steal_frac {r['host.steal_frac']:.4f} ratio (CPU time the hypervisor gave to other guests)")
    return lines


def untraced_wall_s(args, source: str) -> float | None:
    """Median wall_s of the saved untraced records of this workload,
    seed, run length, source tree and host: the base of
    trace.overhead_frac, so a traced run need not repeat the untraced one."""
    walls = []
    results = os.path.join(HERE, ".results")
    for name in os.listdir(results) if os.path.isdir(results) else []:
        with open(os.path.join(results, name)) as f:
            rec = json.load(f)
        if (rec["trace"] == 0 and rec["correct"] and rec["workload"] == args.workload and rec["seed"] == args.seed
                and rec["seconds"] == args.seconds and rec["source_digest"] == source
                and rec["host"] == host_fingerprint()):
            walls.append(rec["raw"]["wall_s"])
    return stats.median(walls) if walls else None


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["host"] != b["host"]:
        print(f"refused: records come from different hosts: {a['host']} vs {b['host']}", file=sys.stderr)
        return 2
    for k in sorted(a["metrics"]):
        va, vb = a["metrics"][k]["value"], b["metrics"].get(k, {}).get("value")
        if vb is not None and va:
            print(f"{k} {va:.6g} -> {vb:.6g} ({vb / va - 1:+.1%})")
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    args = ap.parse_args(argv)
    # a terminated launcher still stops its child's process group (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.compare:
        return compare(*args.compare)
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"no {PKG} package next to perfbench/: run from a full checkout", file=sys.stderr)
        return 2

    data = generate(args.workload, args.seed)
    source = tree_digest([os.path.join(ROOT, PKG), HERE])
    try:
        base = untraced_wall_s(args, source) if args.trace else None
        r = run_child(args.workload, args.seed, args.seconds, bool(args.trace), data,
                      untraced_pass=bool(args.trace) and base is None)
        if args.trace and base is None:
            base = r["untraced_pass_s"]
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 2

    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in per_layer(r, base).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(r).items()}
    record = {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }
    fingerprint = {
        "host": host_fingerprint(),
        "versions": versions(),
        "source_digest": source,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input_digest": tree_digest([data]),
        "notes": r["notes"],
    }
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    with open(os.path.join(HERE, ".results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"),
              "w") as f:
        json.dump({**fingerprint, **record, "raw": r}, f)
    for line in human_lines(args.workload, r):
        print(line)
    if args.trace:
        frac = metrics["trace.self_sum_frac"]["value"]
        print(f"trace.self_sum_frac {frac:.4f} (span self time / timed wall; margin {SELF_SUM_MARGIN:.0%}: "
              f"{'ok' if abs(1 - frac) <= SELF_SUM_MARGIN else 'NOT RECONCILED'})")
    print("fingerprint " + json.dumps(fingerprint, sort_keys=True))
    print(json.dumps(record))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
