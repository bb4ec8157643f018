#!/usr/bin/env python3
"""Run one benchmark run of the graft engine and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
harness from source into `.bench_build/` (Scala compiler and Spark jars
from `$SPARK_HOME/jars`) and generates the inputs there; later runs reuse
both while the sources are unchanged.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). Every metric, with its unit and sample count,
is also printed on stderr, and the run's artifacts (raw measurements,
result with sample counts, per-pass layer table, spans and self times) go
to `.bench_build/out/<workload>-s<seed>-t<trace>/` or `--out DIR`.

Exits non-zero, without a result, when the engine sources are missing or
the build fails; exits non-zero after printing the result when a step
failed or an output does not match its pinned digest.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
WORKLOADS = ("relational", "curation", "store_lifecycle", "streaming")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170
MB = 1024 * 1024


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        die("no Spark jars: set SPARK_HOME")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def tree_hash(files, extra=""):
    h = hashlib.sha1(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_once(name, srcs, classpath, stamp_extra=""):
    """scalac `srcs` into .bench_build/classes/<name> unless its stamp
    matches the sources; returns the output directory."""
    out = os.path.join(BUILD, "classes", name)
    stamp = os.path.join(BUILD, "classes", name + ".stamp")
    want = tree_hash(srcs, stamp_extra)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join(classpath)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp] + srcs,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die(f"build of {name} failed")
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def jar_once(classes, stamp):
    """Pack a class directory into a jar (class sharing needs jars)."""
    jar = classes + ".jar"
    if not (os.path.exists(jar) and open(jar + ".stamp").read() == stamp):
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
        with open(jar + ".stamp", "w") as f:
            f.write(stamp)
    return jar


def build():
    """Compile the engine and the harness; returns the JVM classpath."""
    if not sources(MAIN_SRC):
        die(f"engine sources not found under {os.path.relpath(MAIN_SRC, ROOT)}")
    jars = spark_jars()
    main, main_hash = compile_once("main", sources(MAIN_SRC), jars)
    bench, bench_hash = compile_once("bench", sources(BENCH_SRC), [main] + jars, main_hash)
    return [jar_once(bench, bench_hash), jar_once(main, main_hash)] + jars


def prep_dir(classpath):
    """Where `store_lifecycle` keeps its fixed inputs for this engine build."""
    return os.path.join(BUILD, "prep-" + open(classpath[1] + ".stamp").read()[:16])


def class_archive(classpath, data):
    """A dynamic class-data-sharing archive of the classes the session
    set-up loads, made once per build: it halves JVM-to-session start-up,
    which every run pays. The same JVM prepares `store_lifecycle`'s fixed
    inputs, so no measured run is the first to execute that code. Returns
    the JVM flag that uses the archive ([] if the JVM could not make one)."""
    jsa = os.path.join(BUILD, "classes", "app.jsa")
    want = tree_hash([], ":".join(classpath) + open(classpath[0] + ".stamp").read()
                     + open(classpath[1] + ".stamp").read())
    stamp = jsa + ".stamp"
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        if os.path.exists(jsa):
            os.remove(jsa)
        work = os.path.join(BUILD, "cds-run")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        jvm(classpath, "perfbench.Harness",
            ["--workload", "store_lifecycle", "--seed", "0", "--seconds", "0",
             "--trace", "0", "--data", data, "--work", work,
             "--raw", os.path.join(work, "raw.json"), "--prep", prep_dir(classpath),
             "--prepare-only", "1"],
            work, [f"-XX:ArchiveClassesAtExit={jsa}"])
        shutil.rmtree(work, ignore_errors=True)
        with open(stamp, "w") as f:
            f.write(want)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def inputs():
    """Generate the inputs once per checkout (fixed data seed)."""
    data = os.path.join(BUILD, "data")
    gen = os.path.join(HERE, "gendata.py")
    want = tree_hash([gen])
    stamp = data + ".stamp"
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, gen, data], check=True)
        with open(stamp, "w") as f:
            f.write(want)
    return data


def jvm(classpath, cls, args, work, flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", *flags]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.system.home={work}",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", ":".join(classpath), cls] + args)
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return rc


def cpu_times():
    """The host's aggregate CPU time counters (Linux `/proc/stat`), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def cpu_steal_pct(before):
    """Share of CPU time the hypervisor took from this machine since
    `before` (the 8th counter, steal): runs with a high share were slowed
    by other tenants, not by the program."""
    after = cpu_times()
    if not before or not after or len(after) < 8:
        return 0.0
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if sum(delta) else 0.0


# ---- metrics ---------------------------------------------------------------

def ok_pass(p):
    return all(s["ok"] for s in p["steps"])


def pass_layers(p):
    """Per-pass sums of the step layer counters (max for max_stage_tasks)."""
    out = {}
    for s in p["steps"]:
        for k, v in s.get("layers", {}).items():
            out[k] = max(out.get(k, 0), v) if k == "sched.max_stage_tasks" \
                else out.get(k, 0) + v
    busy, gap = stats.driver_gap(
        p["wall_s"], [j for s in p["steps"] for j in s.get("jobs", [])],
        p["start_ms"], p["end_ms"])
    out["sched.job_busy_s"] = busy
    out["sched.driver_gap_s"] = gap
    return out


def span_sums(raw, ids_by_pass):
    """Per pass: total duration and total self time of each span name."""
    selfs = stats.self_times(raw["spans"])
    out = {}
    for s in raw["spans"]:
        k = ids_by_pass.get(s["step"])
        if k is None:
            continue
        d = out.setdefault(k, {})
        d[s["name"]] = d.get(s["name"], 0) + s["end_s"] - s["start_s"]
        d["self." + s["name"]] = d.get("self." + s["name"], 0) + selfs[s["id"]]
    return out


STREAM_PHASES = {"latestOffset": "stream.latest_offset_ms",
                 "getBatch": "stream.get_batch_ms",
                 "queryPlanning": "stream.query_planning_ms",
                 "addBatch": "stream.add_batch_ms",
                 "walCommit": "stream.wal_commit_ms",
                 "commitOffsets": "stream.commit_offsets_ms"}
STORE_OPS = ("lsh.build", "lsh.append", "labels.create", "labels.load",
             "ivf.save", "ivf.remove", "frontier.create",
             "history.enqueue", "history.flush")
LAYER_UNITS = {
    "queries.build_s": "s", "action.noop_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "jvm.jit_ms": "ms", "jvm.classes_loaded": "count",
    "cold.codegen.compiles": "count", "cold.codegen.compile_ms": "ms",
    "cold.jvm.jit_ms": "ms", "cold.jvm.classes_loaded": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.max_stage_tasks": "count", "sched.job_busy_s": "s",
    "sched.driver_gap_s": "s", "sched.tasks_failed": "count",
    "task.cpu_s": "s", "task.run_s": "s", "task.gc_s": "s", "task.deser_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "scan.read_mb": "MB", "scan.rows": "count", "write.mb": "MB",
    "fs.read_mb": "MB", "fs.write_mb": "MB",
    **{f"store.{op}_s": "s" for op in STORE_OPS},
    "store.jobs_per_op": "count", "store.write_amp": "ratio", "store.space_mb": "MB",
    "store.files": "count",
    "stream.batches": "count", "stream.data_batch_ratio": "ratio",
    **{v: "ms" for v in STREAM_PHASES.values()},
    "batch_p50_ms": "ms", "batch_p90_ms": "ms",
    "state.commit_ms": "ms", "state.rows_total": "count", "state.mem_mb": "MB",
    "step_p50_s": "s", "step_p90_s": "s", "fail_ratio": "ratio", "setup_first_s": "s",
    "self.step_ms": "ms", "self.pass_s": "s", "trace.overhead_s": "s",
    "host.steal_pct": "%",
}
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
             "task_cpu_s": "s", "heap_peak_mb": "MB"}


def metrics(raw, out, steal_pct):
    """(end-to-end, per-layer, notes): each metric is (value, unit, samples)."""
    passes = raw["passes"]
    cold = passes[0]
    warm = [p for p in passes[1:] if ok_pass(p)]
    steps = [s["wall_s"] for p in warm for s in p["steps"]]
    e2e = {
        "setup_s": (stats.median(raw["setups_s"]), len(raw["setups_s"])),
        "cold_pass_s": (cold["wall_s"], 1) if ok_pass(cold) else None,
        "warm_pass_s": (stats.median([p["wall_s"] for p in warm]), len(warm)) if warm else None,
        "task_cpu_s": (stats.median([p["cpu_s"] for p in warm]), len(warm)) if warm else None,
        "heap_peak_mb": (raw["heap_peak_mb"], 1),
    }
    e2e = {k: (v[0], E2E_UNITS[k], v[1]) for k, v in e2e.items() if v is not None}

    notes = []
    attempted = sum(len(p["steps"]) for p in passes) + len(raw["check"])
    failed = raw["failed_steps"] + sum(not c["ok"] for c in raw["check"])
    layer = {"host.steal_pct": (steal_pct, 1),
             "fail_ratio": (failed / attempted, attempted),
             "setup_first_s": (raw["setups_s"][0], 1),
             "step_p50_s": (stats.median(steps), len(steps))}
    v, n, ok = stats.percentile(steps, 0.9)
    layer["step_p90_s"] = (v, n)
    if not ok:
        notes.append(f"step_p90_s: {n} samples, fewer than {stats.MIN_BEYOND} beyond p90")
    for op in STORE_OPS:
        xs = [s["wall_s"] for p in warm for s in p["steps"] if s["name"] == op]
        layer[f"store.{op}_s"] = (stats.median(xs), len(xs))

    tw = [p for p in warm if p["traced"]]
    uw = [p for p in warm if not p["traced"]]
    if raw["traced"]:
        traced_passes = ([cold] if ok_pass(cold) else []) + tw
        ids = {s["id"]: i for i, p in enumerate(traced_passes) for s in p["steps"]}
        spans = span_sums(raw, ids)
        per = [pass_layers(p) for p in traced_passes]
        for i, p in enumerate(traced_passes):
            d = spans.get(i, {})
            per[i]["queries.build_s"] = d.get("queries.build", 0.0)
            per[i]["action.noop_s"] = d.get("action.noop", 0.0)
            per[i]["self.step_ms"] = 1e3 * d.get("self.step", 0.0) / max(len(p["steps"]), 1)
            per[i]["self.pass_s"] = d.get("self.pass", 0.0)
            if "store_input_bytes" in p:
                per[i]["store.jobs_per_op"] = per[i].get("sched.jobs", 0) / max(len(p["steps"]), 1)
                per[i]["store.write_amp"] = per[i].get("fs.write_mb", 0) * MB / p["store_input_bytes"]
                per[i]["store.space_mb"] = p["store_space_mb"]
                per[i]["store.files"] = p["store_files"]
        warm_per = per[1:] if ok_pass(cold) else per
        keys = sorted({k for d in per for k in d})
        for k in keys:
            if k in LAYER_UNITS:
                layer[k] = (stats.median([d.get(k, 0.0) for d in warm_per]), len(warm_per))
        if ok_pass(cold):
            for k in ("codegen.compiles", "codegen.compile_ms", "jvm.jit_ms",
                      "jvm.classes_loaded"):
                layer["cold." + k] = (per[0].get(k, 0.0), 1)
        batches = [b for p in tw for s in p["steps"] for b in s.get("batches", [])]
        trig = [b["durations_ms"].get("triggerExecution", 0) for b in batches]
        layer["stream.batches"] = (len(batches) / max(len(tw), 1), len(tw))
        layer["stream.data_batch_ratio"] = (
            sum(b["input_rows"] > 0 for b in batches) / len(batches) if batches else 0.0,
            len(batches))
        for src, name in STREAM_PHASES.items():
            layer[name] = (stats.median([b["durations_ms"].get(src, 0) for b in batches]),
                           len(batches))
        layer["batch_p50_ms"] = (stats.median(trig), len(trig))
        v, n, ok = stats.percentile(trig, 0.9)
        layer["batch_p90_ms"] = (v, n)
        if batches and not ok:
            notes.append(f"batch_p90_ms: {n} samples, fewer than {stats.MIN_BEYOND} beyond p90")
        layer["state.commit_ms"] = (stats.median([b["state_commit_ms"] for b in batches]), len(batches))
        layer["state.rows_total"] = (max([b["state_rows"] for b in batches], default=0), len(batches))
        layer["state.mem_mb"] = (max([b["state_mem_bytes"] for b in batches], default=0) / MB,
                                 len(batches))
        if tw and uw:
            layer["trace.overhead_s"] = (
                stats.median([p["wall_s"] for p in tw]) - stats.median([p["wall_s"] for p in uw]),
                min(len(tw), len(uw)))
        write_tables(out, raw, traced_passes, per)
        # a traced run reports every per-layer metric; a layer the workload
        # never touched reads 0 with 0 samples
        for k in LAYER_UNITS:
            layer.setdefault(k, (0.0, 0))
    layer = {k: (v[0], LAYER_UNITS[k], v[1]) for k, v in layer.items()}
    return e2e, layer, notes, attempted, failed


def write_tables(out, raw, traced_passes, per):
    """Per-pass layer table (TSV), spans (JSON lines) and self times."""
    keys = sorted({k for d in per for k in d})
    with open(os.path.join(out, "layers.tsv"), "w") as f:
        f.write("pass\tkind\twall_s\t" + "\t".join(keys) + "\n")
        for i, (p, d) in enumerate(zip(traced_passes, per)):
            f.write(f"{i}\t{p['kind']}\t{p['wall_s']:.4f}\t"
                    + "\t".join(f"{d.get(k, 0.0):.4f}" for k in keys) + "\n")
    selfs = stats.self_times(raw["spans"])
    with open(os.path.join(out, "spans.jsonl"), "w") as f:
        for s in raw["spans"]:
            f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")
    by_name = {}
    for s in raw["spans"]:
        t = by_name.setdefault(s["name"], [0, 0.0, 0.0])
        t[0] += 1
        t[1] += s["end_s"] - s["start_s"]
        t[2] += selfs[s["id"]]
    with open(os.path.join(out, "self_times.tsv"), "w") as f:
        f.write("span\tcount\ttotal_s\tself_s\n")
        for k, (n, tot, slf) in sorted(by_name.items(), key=lambda kv: -kv[1][2]):
            f.write(f"{k}\t{n}\t{tot:.4f}\t{slf:.4f}\n")


def main():
    # a terminated run still stops the JVM it started (see jvm())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="artifact directory")
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness self-tests and exit")
    a = ap.parse_args()
    if a.selftest:
        cp = build()
        rc = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_stats"],
                            cwd=HERE).returncode
        rc = rc or jvm(cp, "perfbench.DigestSelfTest", [], os.path.join(BUILD, "selftest"))
        sys.exit(rc)
    if not a.workload:
        ap.error("--workload is required")

    cp = build()
    data = inputs()
    cds = class_archive(cp, data)
    out = os.path.abspath(a.out or os.path.join(
        BUILD, "out", f"{a.workload}-s{a.seed}-t{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    work = os.path.join(out, "work")
    os.makedirs(work)
    raw_path = os.path.join(out, "raw.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--raw", raw_path,
            "--prep", prep_dir(cp),
            "--digests", os.path.join(HERE, "digests.json")]
    stat0 = cpu_times()
    rc = jvm(cp, "perfbench.Harness", args, work, cds)
    if rc != 0:
        die(f"harness exited with {rc}")
    with open(raw_path) as f:
        raw = json.load(f)
    e2e, layer, notes, attempted, failed = metrics(raw, out, cpu_steal_pct(stat0))
    shutil.rmtree(work, ignore_errors=True)
    correct = all(c["ok"] for c in raw["check"])
    shown = layer if a.trace else e2e
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()}}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "correct": correct, "attempted": attempted, "failed": failed,
                   "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                                  for k, (v, u, n) in e2e.items()},
                   "per_layer": {k: {"value": v, "unit": u, "samples": n}
                                 for k, (v, u, n) in layer.items()},
                   "notes": notes}, f, indent=1)
    for k, (v, u, n) in sorted({**e2e, **layer}.items()):
        print(f"[perfbench] {a.workload:16s} {k:28s} {v:14.4f} {u:6s} n={n}",
              file=sys.stderr)
    for n in notes:
        print(f"[perfbench] note: {n}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
