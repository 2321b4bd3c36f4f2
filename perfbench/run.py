#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source on first use (sbt, into the
checkout), generates the workload's seeded inputs (cached per seed under
.bench_build/inputs, outside every timed window), runs the workload in
one fresh JVM, checks every op's output, and prints one line per metric
followed, as the last line, by one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). --seconds sizes the measured
work: max(1, round(seconds / pass_s)) passes over the workload's ops,
with pass_s the workload's nominal pass time in config.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import stats    # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
MB = 1 << 20
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the checkout."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    return [p for pat in pats for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
            if os.path.isfile(p)]


def build(cfg, data):
    """Compile graft and the harness unless nothing changed since the
    last build; return the runtime classpath.

    The two class directories are packed into jars, so the whole
    classpath can back a class-data-sharing archive. The archive is
    recorded by one training run (a dedup_heavy pass) and cuts JVM and
    Spark start-up, which every run pays, by several seconds."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("graft's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    stamp = os.path.join(BUILD, "classpath.txt")
    files = sources()
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= max(map(os.path.getmtime, files)):
        return open(stamp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=880)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "perfbench" in l and "classes" in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed, see {log}")
    classpath = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in sorted(os.walk(entry)):
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
            entry = jar
        classpath.append(entry)
    classpath = os.pathsep.join(classpath)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "runs", "archive")
    shutil.rmtree(work, ignore_errors=True)
    run_jvm(cfg, "dedup_heavy", 0, 1, 0, classpath, data, "", work,
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(classpath)
    return classpath


def inputs(workload, seed, data):
    """The seeded inputs of `workload`, generated once per seed and
    generator version."""
    version = hashlib.sha1(open(gen.__file__, "rb").read()).hexdigest()[:12]
    out = os.path.join(BUILD, "inputs", workload, f"{seed}-{version}")
    done = os.path.join(out, "manifest.json")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        gen.generate(workload, seed, data, out)
    return out, json.load(open(done))


def run_jvm(cfg, workload, seed, passes, trace, classpath, data, inp, work, flags=()):
    """Run the harness in a fresh JVM and return its record."""
    wl = cfg["workloads"][workload]
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(work, "record.json")
    conf = dict(cfg["spark_conf"])
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    cmd = ["java", f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}", *cfg["jvm_flags"], *flags]
    if not flags and os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath,
            "perfbench.Main", "--workload", workload, "--kind", wl["kind"],
            "--seed", str(seed), "--passes", str(passes),
            "--trace", str(trace), "--k", str(cfg["k"]), "--data", data,
            "--inputs", inp, "--work", work, "--out", record,
            "--expected", os.path.join(HERE, "expected", "catalog.tsv"),
            "--rows", ",".join(wl.get("rows", [])) or ","]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    env = dict(os.environ, SPARK_GRAFT_ARTIFACTS=os.path.join(work, "artifacts"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                cwd=work, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"harness exited with {rc}")
    return json.load(open(record))


def check_mr(op, manifest):
    """Compare an MR job's part files with the generator's counts."""
    counts = manifest["counts"]
    lines = [l for f in sorted(glob.glob(os.path.join(op["out_dir"], "part-*")))
             for l in open(f, encoding="utf-8").read().splitlines()]
    if op["name"] == "wordcount_json":
        got = {}
        for l in lines:
            k, v = l.split("\t")
            got[json.loads(k)] = json.loads(v)
        return got == counts
    want = {}
    for w, n in counts.items():
        top, words, total = want.get(len(w), ((0, ""), 0, 0))
        want[len(w)] = (max(top, (n, w)), words + 1, total + n)
    want = {str(k): f"{t[1]}\t{t[0]}\t{c}\t{s}" for k, (t, c, s) in want.items()}
    got = dict(l.split("\t", 1) for l in lines)
    return got == want


def op_inputs(wl, manifest, inp, data):
    """op -> (bytes, records) of the input the op consumes, fixed by the
    workload's input files: a catalog row's tables (sizes on disk, table
    rows), the whole corpus for an MR job (bytes before compression,
    lines), and landing file b for micro-batch b (bytes before parquet
    compression, rows). Scans and re-reads inside the engine do not
    count."""
    import pyarrow.parquet as pq

    def parquet(path):
        return os.path.getsize(path), pq.ParquetFile(path).metadata.num_rows

    def uncompressed(path):
        md = pq.ParquetFile(path).metadata
        return (sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups)),
                md.num_rows)
    if wl["kind"] == "catalog":
        tables = {t: parquet(os.path.join(data, f"{t}.parquet"))
                  for ts in wl["rows"].values() for t in ts}
        per_row = {r: tuple(map(sum, zip(*(tables[t] for t in ts))))
                   for r, ts in wl["rows"].items()}
        return lambda op: per_row[op["name"]]
    if wl["kind"] == "mr":
        return lambda op: (manifest["raw_bytes"], manifest["lines"])
    files = sorted(glob.glob(os.path.join(inp, "landing", "*.parquet")))
    return lambda op: uncompressed(files[op["batch"]])


def timed_ops(rec, traced):
    """The ops of the timed windows (traced or not), as dicts with key,
    name, start_ms, end_ms, ok and the phase times, plus the passes."""
    passes = [p for p in rec["passes"] if p["traced"] == traced]
    if rec["kind"] != "ingest":
        keys = {k for p in passes for k in p["ops"]}
        ops = [o for o in rec["ops"] if o["key"] in keys]
        return ops, [dict(p, wall_ms=p["end_ms"] - p["start_ms"],
                          keys=p["ops"]) for p in passes]
    ops, out = [], []
    for p in passes:
        qid = p["ops"][0].split(":", 1)[1]
        # a stream's first micro-batches warm it up and are no ops
        bs = [b for b in rec["batches"]
              if b["op"].startswith(f"batch:{qid}:") and b["batch"] >= gen.WARM_BATCHES]
        mine = [dict(b, key=b["op"], name="micro_batch", ok=True, construct_ms=0.0,
                     start_ms=b["end_ms"] - b["trigger_ms"]) for b in bs]
        ops += mine
        if mine:
            out.append(dict(p, wall_ms=max(o["end_ms"] for o in mine)
                            - min(o["start_ms"] for o in mine), keys=[o["key"] for o in mine]))
    return ops, out


def end_to_end(rec, ops, passes, op_input):
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]
    pct, tail, n = stats.tail(lat)
    by_key = {o["key"]: o for o in ops}

    def per_s(i):
        """median over passes of the pass's input (bytes or records) per
        second of its wall"""
        return statistics.median(
            sum(op_input(by_key[k])[i] for k in p["keys"] if k in by_key) * 1e3 / p["wall_ms"]
            for p in passes)
    notes = {"op_tail_s": f"p{pct:.1f} of {n} ops"}
    return {
        "setup_s": ((min(o["start_ms"] for o in ops) - rec["jvm_start_ms"]) / 1e3, "s"),
        "wall_s": (statistics.median(p["wall_ms"] for p in passes) / 1e3, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "input_mb_per_s": (per_s(0) / MB, "MB/s"),
        "docs_per_s": (per_s(1), "1/s"),
    }, notes


def per_layer(rec, ops, passes, untraced_passes):
    by_key = {o["key"]: o for o in ops}
    c = rec["counters"]
    k = rec["k"]
    rows = []
    for p in passes:
        pos = [by_key[x] for x in p["keys"] if x in by_key]
        cs = [c.get(x, {}) for x in p["keys"]]

        def tot(f):
            return sum(x.get(f, 0) for x in cs)
        slow = max(cs, key=lambda x: x.get("slow_stage_ms", -1), default={})
        batches = [o for o in pos if "trigger_ms" in o]
        rows.append({
            "operators.construct_s": sum(o.get("construct_ms", 0) for o in pos) / 1e3,
            "operators.construct_jobs": tot("construct_jobs"),
            "catalyst.plan_s": sum(o.get("plan_ms", 0) for o in pos) / 1e3,
            "scheduler.jobs": tot("jobs"),
            "scheduler.stages": tot("stages"),
            "scheduler.stages_skipped": tot("stages_skipped"),
            "scheduler.tasks": tot("tasks"),
            "scheduler.task_overhead_s": (tot("task_dur_ms") - tot("run_ms")) / 1e3,
            "scheduler.core_idle_frac": 1 - tot("run_ms") / (p["wall_ms"] * k),
            "executor.task_run_s": tot("run_ms") / 1e3,
            "executor.cpu_s": tot("cpu_ns") / 1e9,
            "executor.gc_s": tot("gc_ms") / 1e3,
            "executor.skew": slow.get("slow_stage_skew", 0.0),
            "executor.peak_mem_mb": max((x.get("peak_mem_bytes", 0) for x in cs), default=0) / MB,
            "shuffle.write_mb": tot("sh_write_bytes") / MB,
            "shuffle.read_mb": tot("sh_read_bytes") / MB,
            "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
            "shuffle.spill_disk_mb": tot("spill_disk_bytes") / MB,
            "api.combine_ratio": tot("sh_write_records") / max(tot("in_records"), 1),
            "sources.read_mb": tot("in_bytes") / MB,
            "sources.write_mb": tot("out_bytes") / MB,
            "sources.write_records": tot("out_records"),
            "sources.commit_s": tot("commit_ms") / 1e3,
            "streaming.batches": len(batches),
            "streaming.batch_s": sum(b["trigger_ms"] for b in batches) / 1e3,
            "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
            "streaming.plan_s": sum(b["plan_ms"] for b in batches) / 1e3,
            "streaming.commit_s": sum(b["commit_ms"] for b in batches) / 1e3,
        })
    out = {m: statistics.median(r[m] for r in rows) for m in rows[0]}
    setup = rec["setup"]
    out["setup.session_s"] = setup.get("session", 0.0)
    out["setup.warm_s"] = setup.get("warm", 0.0)
    out["prep.index_s"] = setup.get("index_build", 0.0)
    # the two kinds of pass alternate in one process (u t t u ...)
    out["trace.overhead_s"] = (statistics.median(p["wall_ms"] for p in passes)
                               - statistics.median(p["wall_ms"] for p in untraced_passes)) / 1e3
    # spans: job starts and ends arrive as two records; micro-batches
    # are op roots built from their progress
    spans, ends = [], {}
    for s in rec["spans"]:
        if s["kind"] == "job_end":
            ends[s["id"]] = s["end_ms"]
    for s in rec["spans"]:
        if s["kind"] == "job" and s["id"] in ends:
            spans.append(dict(s, end_ms=ends[s["id"]]))
        elif s["kind"] != "job_end":
            spans.append(s)
    traced = {x for p in passes for x in p["keys"]}
    spans = [s for s in spans if s["op"] in traced]
    spans += [dict(kind="streaming.batch", id=o["key"], op=o["key"], parent="",
                   start_ms=o["start_ms"], end_ms=o["end_ms"])
              for o in ops if "trigger_ms" in o and o["key"] in traced]
    selfs = stats.self_times(spans)
    for kind in ["op", "operators.construct", "catalyst.plan", "execute",
                 "streaming.batch", "job", "stage"]:
        out[f"self.{kind}_s"] = selfs.get(kind, 0.0) / 1e3 / len(passes)
    return out


UNITS = {"_s": "s", "_mb": "MB", "_frac": "share", "_ratio": "ratio", "skew": "ratio"}


def unit(name):
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()
    cfg = json.load(open(os.path.join(HERE, "config.json")))
    if args.workload not in cfg["workloads"]:
        die(f"unknown workload {args.workload}; one of {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][args.workload]
    data = os.path.join(HERE, "data", "sf0.1")
    classpath = build(cfg, data)
    inp, manifest = inputs(args.workload, args.seed, data)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    n_passes = max(1, round(args.seconds / wl["pass_s"]))
    try:
        rec = run_jvm(cfg, args.workload, args.seed, n_passes, args.trace, classpath,
                      data, inp, work)
        checks = dict(rec["checks"])
        all_ops = timed_ops(rec, False)[0] + timed_ops(rec, True)[0]
        if rec["kind"] == "mr":
            for o in all_ops:
                checks[o["key"]] = o["ok"] and check_mr(o, manifest)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    attempted, failed = stats.failures(all_ops, checks)
    ops, passes = timed_ops(rec, False)
    if args.trace:
        tops, tpasses = timed_ops(rec, True)
        values = per_layer(rec, tops, tpasses, passes)
        metrics = {m: (v, unit(m)) for m, v in values.items()}
        notes = {}
    else:
        metrics, notes = end_to_end(rec, ops, passes, op_inputs(wl, manifest, inp, data))
    for m, (v, u) in metrics.items():
        print(f"{m:28s} {v:14.6f} {u:6s} {notes.get(m, '')}")
    print(f"{'ops_failed_frac':28s} {failed / attempted:14.6f} share  {failed} of {attempted} ops")
    print(json.dumps({"correct": failed == 0 and rec.get("failure") is None,
                      "attempted": attempted, "failed": failed,
                      "metrics": {m: {"value": v, "unit": u} for m, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
