#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JVM.

    python3 benchmark/run.py --workload season_etl --seed 1 --seconds 15 --trace 0

Builds the engine from source if needed (``build.py``), generates the
workload's inputs from the seed (``gen.py``), runs the workload in one JVM on
``GraftSession.local`` with ``local[nproc]`` as a closed loop with one client,
checks every captured output (``checks.py``), writes the full run record
under the build directory, and prints one JSON object as the last line.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds a traced
pass after the timed ones and reports the per-layer metrics (see
``NOTES.md`` for their meaning and the layer -> end-to-end predictions).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("season_etl", "curation")
HEAP = "2g"
# The client JIT only: a run's JVM lives about a minute, in which the
# optimizing compiler spends most of the process's CPU (about 80 of 120
# CPU-seconds of a run, on 4 cores) compiling Spark and never settles, so it
# competes with the tasks it is compiling for; C1 alone halves a run's CPU
# and its timed pass is as fast.
JIT = ["-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 165
# Bounded metrics. Wall-clock pass and query times are printed and recorded
# too (`pass_s`, `query_p50_s`), but on a shared host their spread over ten
# seeds exceeds the largest bound a metric may have; CPU seconds vary less.
END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("query_cpu_p50_s", "s")]
PER_LAYER = [
    ("GraftSession.local_s", "s"),
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("queries.execute_s", "s"),
    ("pipelines.construct_s", "s"), ("pipelines.execute_s", "s"),
    ("Store.rebuild_s", "s"), ("Store.update_s", "s"), ("Store.appendVersioned_s", "s"),
    ("Store.read_s", "s"), ("Store.readChanges_s", "s"),
    ("Store.compactVersioned_s", "s"), ("Store.vacuum_s", "s"),
    ("Store.files_live", "count"), ("Store.bytes_live", "bytes"),
    ("Store.bytes_written", "bytes"), ("Store.write_amp", "ratio"),
    ("Store.space_amp", "ratio"),
    ("Dedup.edges_s", "s"), ("Dedup.cc_s", "s"), ("Dedup.cc_jobs", "count"),
    ("Dedup.incremental_s", "s"), ("Dedup.candidate_pairs", "count"),
    ("Dedup.pair_yield", "ratio"),
    ("Similarity.bucketedTopK_s", "s"),
    ("Housekeeping.releaseAllBlocks_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"), ("spark.task_offcpu_s", "s"), ("spark.task_gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.aqe_replans", "count"),
    ("catalyst.plan_s", "s"), ("spark.driver_gap_s", "s"),
    ("spark.max_task_share", "ratio"),
    ("trace.overhead_s", "s"),
]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, where the kernel reports them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return None


def percentile(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def prepare_inputs(workload, seed, inp):
    """Generate the inputs and the small text manifests the JVM reads."""
    import gen
    m = gen.GENERATORS[workload](seed, inp)
    params = {}
    if workload == "season_etl":
        gen.analyst_corpus(seed, os.path.join(inp, "analyst"))
        with open(os.path.join(inp, "base.txt"), "w") as f:
            f.write("".join(f"{b['path']}\n" for b in m["base"]))
        with open(os.path.join(inp, "deliveries.txt"), "w") as f:
            f.write("".join(f"{d['tag']}\t{d['path']}\n" for d in m["deliveries"]))
        team, qb = season_focus(m)
        params = {"season": str(m["new_season"]), "team": team, "qb": qb}
        with open(os.path.join(inp, "params.txt"), "w") as f:
            f.write("".join(f"{k}\t{v}\n" for k, v in params.items()))
    elif workload == "curation":
        with open(os.path.join(inp, "batches.txt"), "w") as f:
            for b in m["batches"]:
                f.write(f"{b['name']}\t{inp}/{b['name']}_docs.parquet\t"
                        f"{inp}/{b['name']}_emb.parquet\t{b['min_id']}\t{b['max_id']}\n")
    return m, params


def season_focus(manifest):
    """Team and quarterback of the per-game analysis: the passer with the most
    plays in the first delivery (ties by name)."""
    import duckdb
    path = manifest["deliveries"][0]["path"]
    return duckdb.sql(
        f"SELECT posteam, name FROM '{path}' WHERE name IS NOT NULL "
        f"GROUP BY 1, 2 ORDER BY count(*) DESC, 1, 2 LIMIT 1").fetchone()


def run_jvm(jar, jars, run_dir, args, cpus, deadline, extra=()):
    """Run ``graftbench.BenchMain args`` in ``run_dir`` and wait for it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JIT + list(extra) +
           JVM_OPENS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop-tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{jar}{os.pathsep}{build.classpath(jars)}",
        "graftbench.BenchMain"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("JVM timed out")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][-5:]
        raise RuntimeError(f"JVM exited {rc}: " + " | ".join(tail))


def class_archive(jar, jars, key, cpus):
    """The class-data archive of the build, made once per build: a JVM that
    runs one warm-up pass of every workload on seed-0 inputs records the
    classes it loaded. A run started from it skips parsing and verifying
    them, several seconds of a run's set-up. Returns its path, or None if
    it cannot be made (runs then start without it)."""
    tdir = build.target_dir()
    jsa = os.path.join(tdir, "classes.jsa")
    stamp = jsa + ".stamp"
    if os.path.exists(jsa) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == key:
                return jsa
    train = os.path.join(tdir, "train")
    shutil.rmtree(train, ignore_errors=True)
    dirs = []
    for w in WORKLOADS:
        d = os.path.join(train, w)
        os.makedirs(os.path.join(d, "input"))
        prepare_inputs(w, 0, os.path.join(d, "input"))
        dirs.append(d)
    print("[benchmark] recording the class-data archive", file=sys.stderr, flush=True)
    try:
        run_jvm(jar, jars, train, ["train"] + dirs + [cpus], cpus, time.time() + 600,
                [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        os.replace(jsa + ".tmp", jsa)
    except (RuntimeError, OSError) as e:
        print(f"[benchmark] no class-data archive: {e}", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(key)
    return jsa


def op_total(o):
    return o["s"] + o["release_s"]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = t_start + JVM_TIMEOUT_S
    cpus = os.cpu_count() or 1
    try:
        jar, jars, source_hash = build.build()
    except build.BuildError as e:
        print(f"[benchmark] cannot build the engine: {e}", file=sys.stderr)
        return 2
    jsa = class_archive(jar, jars, source_hash, cpus)
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S - 20)
    load_before = loadavg()
    tdir = build.target_dir()
    run_dir = os.path.join(tdir, "runs", f"{a.workload}_s{a.seed}_t{a.trace}_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    os.makedirs(inp)
    t_gen = time.time()
    manifest, params = prepare_inputs(a.workload, a.seed, inp)
    gen_s = time.time() - t_gen
    t_launch = time.time()
    ticks0 = cpu_ticks()
    try:
        run_jvm(jar, jars, run_dir, [a.workload, run_dir, a.seconds, a.trace, a.seed, cpus],
                cpus, deadline, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
    except RuntimeError as e:
        print(f"[benchmark] {e}", file=sys.stderr)
        return 1
    jvm_s = time.time() - t_launch
    ticks1 = cpu_ticks()
    steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
             if ticks0 and ticks1 else None)
    with open(os.path.join(run_dir, "record.json")) as f:
        rec = json.load(f)
    load_after = loadavg()

    untraced = [p for p in rec["passes"] if not p["traced"]]
    ops = [o for p in untraced for o in p["ops"]]
    first = untraced[0]["ops"]
    import checks
    extra = {}
    if a.workload == "season_etl":
        fails = checks.season(run_dir, first, manifest, params)
        fails += checks.analyst(run_dir, [o for o in first if o["kind"] == "registry"],
                                os.path.join(inp, "analyst"))
    else:
        fails, extra = checks.curation(run_dir, first, manifest)
    check_s = time.time() - t_launch - jvm_s
    all_ops = [o for p in rec["passes"] for o in p["ops"]]
    errors = [(o["name"], o["err"]) for o in all_ops if not o["ok"]]
    errors += [("warm-up", e) for e in rec["warmup_failures"]]
    failed_ops = {n for n, _ in errors} | {n for n, _ in fails}
    attempted = len(all_ops) + rec["warmup_ops"]
    failed = len(errors) + len({n for n, _ in fails})

    cycles = rec["setup_cycles"]
    jvm_boot_s = (rec["main_ms"] / 1000.0) - t_launch
    pass_times = [sum(op_total(o) for o in p["ops"]) for p in untraced]
    query_ops = [o for o in ops if o["kind"] in ("query", "registry")]
    queries = [o["s"] for o in query_ops]
    by_kind = lambda k: [o["s"] for o in ops if o["kind"] == k]  # noqa: E731
    e2e = {
        "setup_s": gen_s + jvm_boot_s + statistics.median(cycles) + rec["warmup_s"],
        "pass_s": statistics.median(pass_times),
        "pass_cpu_s": statistics.median(sum(o["cpu_s"] for o in p["ops"]) for p in untraced),
        "query_p50_s": statistics.median(queries),
        "query_cpu_p50_s": statistics.median(o["cpu_s"] for o in query_ops),
    }
    detail = {
        "query_samples": len(queries),
        "query_p90_s": percentile(queries, 0.9) if len(queries) >= 100 else None,
        "query_tail_p": max(0.5, 1 - 10 / len(queries)),
        "query_tail_s": percentile(queries, max(0.5, 1 - 10 / len(queries))),
        "rebuild_s": statistics.median(by_kind("rebuild")) if by_kind("rebuild") else None,
        "ingest_p50_s": statistics.median(by_kind("ingest")) if by_kind("ingest") else None,
        "dedup_s": statistics.median(by_kind("dedup")) if by_kind("dedup") else None,
        "error_rate": failed / attempted,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "heap": HEAP, "source_sha256": source_hash, "class_archive": bool(jsa),
        "loadavg_before": load_before, "loadavg_after": load_after, "cpu_steal_share": steal,
        "gen_s": gen_s, "jvm_boot_s": jvm_boot_s, "setup_cycles": rec["setup_cycles"],
        "warmup_s": rec["warmup_s"], "warmup_op_s": rec["warmup_op_s"], "jvm_s": jvm_s, "check_s": check_s,
        "jvm_exit_s": jvm_s - (rec["end_ms"] / 1000.0 - t_launch),
        "passes": rec["passes"], "metrics": e2e, "detail": detail, "check": extra,
        "failures": [{"op": n, "cause": c} for n, c in errors + fails],
    }
    if a.trace:
        layer = dict(rec["trace"] or {})
        traced = [p for p in rec["passes"] if p["traced"]]
        layer["trace.overhead_s"] = (sum(op_total(o) for o in traced[0]["ops"]) - e2e["pass_s"])
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        record["per_layer"] = {n: m["value"] for n, m in metrics.items()}
        record["trace_all"] = layer
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    rec_dir = os.path.join(tdir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{a.workload}_s{a.seed}_t{a.trace}_{int(t_start)}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace and os.path.exists(os.path.join(run_dir, "spans.json")):
        shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(rec_dir, stem + ".spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    for n, c in errors + fails:
        print(f"[benchmark] FAILED {n}: {c}")
    print(f"[benchmark] {a.workload} seed={a.seed} passes={len(untraced)} ops={attempted} "
          f"failed={failed} record={os.path.relpath(os.path.join(rec_dir, stem + '.json'))}")
    print("[benchmark] end-to-end: " + json.dumps(
        {**{k: round(v, 4) for k, v in e2e.items()},
         **{k: (round(v, 4) if isinstance(v, float) else v) for k, v in detail.items()}}))
    print(json.dumps({"correct": not failed_ops, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
