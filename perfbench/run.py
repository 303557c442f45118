#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload flagship_etl|llm_curation|lake_upsert
      --seed N --seconds S --trace 0|1 --compact-every K

Builds the engine and the harness from the checkout's sources with sbt
(once per source tree; the classpath is cached under .bench_build/),
generates the workload's inputs from the seed, runs the harness JVM for a
closed loop of S seconds of iteration time with one job in flight on a
local[nproc] session, checks every output against the engine's DuckDB
oracles, and prints one JSON line: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1 (names and units from BENCHMARK.json).
All files it writes stay under .bench_build/ in the checkout and are
removed at exit, except the cached build.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["flagship_etl", "llm_curation", "lake_upsert"]
# untimed iterations between the cold one and the timed loop
WARMUP = {"flagship_etl": 2, "llm_curation": 0, "lake_upsert": 1}
ORACLES = {
    "operators.Flagship.pipeline": ("flagship", ["Time", "ID"]),
    "operators.Curation.curate": ("curate", None),
    "operators.TextOps.rrfFusion": ("rrf", None),
}


# Lake figures; zero on workloads that do not touch graftlog.
LAKE_METRICS = [
    "bench.write_p50_s", "bench.write_tail_s", "bench.point_p50_s", "bench.range_p50_s",
    "bench.agg_p50_s", "bench.read_tail_s", "bench.compact_p50_s", "bench.stored_bytes_per_row",
    "bench.written_bytes_per_input_byte", "sources.GraftLog.files_written",
    "sources.GraftLog.bytes_written_mb", "sources.GraftLog.delete_files_written",
    "sources.GraftLog.files_scanned", "sources.GraftLog.files_skipped", "sources.GraftLog.live_files",
    "sources.GraftLog.live_delete_files", "sources.GraftLog.manifests", "sources.GraftLog.table_mb",
    "sources.GraftLog.bytes_rewritten_mb"]
FUNCTION_METRICS = ["functions.StringFns.normalizeAction_s", "functions.TextFns.shingles_s",
                    "functions.VectorFns.cosine_s", "plans.cosine_fast_s"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source tree; return (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine sources (build.sbt, src/main/scala/graft) are not in this checkout")
    launch = os.path.join(BUILD, f"launch-{source_digest()}.txt")
    if not os.path.exists(launch):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="3g")
        opts = env.get("SBT_OPTS", "")
        for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
            if flag.split("=")[0] not in opts:
                opts += " " + flag
        env["SBT_OPTS"] = opts.strip()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "launchFile"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            die("build failed")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) if absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def pct_tail(xs):
    """Highest percentile with at least ten samples beyond it. Below 21
    samples that percentile is not above the median, so report the maximum."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) >= 21 else s[-1]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def check_run(res, inputs, oracle_sql):
    """Check every op of every iteration; returns (attempted, failures,
    near-duplicate recall)."""
    con = check.connect(inputs)
    failures = []
    attempted = 0
    recall = 1.0
    first = {}
    lake = check.Lake(inputs) if res["workload"] == "lake_upsert" else None
    for it in res["iterations"]:
        for op in it["ops"]:
            attempted += 1
            errs = [op["error"]] if op["error"] else []
            name = op["name"]
            if not errs and lake is not None and ".read." in name:
                errs = lake.check_read(op)
            elif not errs and lake is None:
                if name not in first:
                    first[name] = op
                    if name in ORACLES:
                        key, order = ORACLES[name]
                        errs = check.oracle_output(con, op["output"], oracle_sql[key], order)
                    elif name == "operators.VectorOps.embeddingNearDupBlocked":
                        errs, recall = check.near_dup_output(con, op["output"], oracle_sql["neardup"])
                elif (op["rows"], op["hash"]) != (first[name]["rows"], first[name]["hash"]):
                    errs = ["differs from the first iteration's output"]
            if errs:
                failures.append(f"iteration {it['index']} {name}: {'; '.join(errs)}")
    if lake is not None:
        attempted += 1
        errs = lake.check_final(res["lake"]["final"], res["lake"]["batches"] - 1)
        if errs:
            failures.append(f"final table: {'; '.join(errs)}")
    return attempted, failures, recall


def end_to_end(res):
    timed = [i["seconds"] for i in res["iterations"] if i["phase"] == "timed"]
    return {
        "setup_s": res["setup_s"],
        "job_p50_s": med(timed),
        "input_rows_per_s": res["input_rows_per_iteration"] * len(timed) / sum(timed),
    }


def per_layer(res, recall, attempted, failed):
    timed = [i for i in res["iterations"] if i["phase"] == "timed"]
    ops = [o for i in timed for o in i["ops"]]
    n = len(timed)

    def secs(name):
        return [o["seconds"] for o in ops if o["name"] == name]

    def mean(key, name, scale=1.0):
        xs = [o[key] for o in ops if o["name"].startswith(name) and key in o]
        return sum(xs) / len(xs) / scale if xs else 0.0

    writes = secs("sources.GraftLog.write")
    reads = [o["seconds"] for o in ops if ".read." in o["name"]]
    compacts = secs("sources.GraftLog.compact")
    m = {
        "Sessions.build_s": res["build_s"],
        "bench.first_job_s": res["iterations"][0]["seconds"],
        "bench.job_tail_s": pct_tail([i["seconds"] for i in timed]),
        "bench.job_samples": n,
        "bench.traced_job_p50_s": med([i["seconds"] for i in timed]),
        "bench.ops_failed_frac": failed / attempted,
        "bench.steal_frac": res["steal_frac"],
        "bench.job_cpu_s": med([i["cpu_seconds"] for i in timed]),
        "operators.VectorOps.embeddingNearDupBlocked.recall": recall,
    }
    m.update({f"jvm.{k}": v for k, v in res["jvm"].items()})
    m.update(res["per_layer"])
    m.update(dict.fromkeys(FUNCTION_METRICS, 0.0))
    m.update(res.get("functions", {}))
    m.update(dict.fromkeys(LAKE_METRICS, 0.0))
    lake = res.get("lake")
    if lake:
        # landed bytes and sink writes of the timed loop only
        landed = sum(o.get("bytes_landed", 0) for o in ops)
        written = sum(max(o.get("bytes_written", 0), 0) for o in ops)
        files = lake["sink_files"]
        live = {i["index"]: o["live_files"] for i in timed for o in i["ops"] if "live_files" in o}
        scans = [(i["index"], o["files_scanned"]) for i in timed for o in i["ops"] if ".read." in o["name"]]
        m.update({
            "bench.write_p50_s": med(writes), "bench.write_tail_s": pct_tail(writes),
            "bench.point_p50_s": med(secs("sources.GraftLog.read.point")),
            "bench.range_p50_s": med(secs("sources.GraftLog.read.range")),
            "bench.agg_p50_s": med(secs("sources.GraftLog.read.agg")),
            "bench.read_tail_s": pct_tail(reads),
            "bench.compact_p50_s": med(compacts),
            "bench.stored_bytes_per_row": lake["sink_bytes"] / lake["live_rows"],
            "bench.written_bytes_per_input_byte": written / landed if landed else 0.0,
            "sources.GraftLog.files_written": mean("files_written", "sources.GraftLog.write"),
            "sources.GraftLog.bytes_written_mb": mean("bytes_written", "sources.GraftLog.write", 1048576.0),
            "sources.GraftLog.delete_files_written": mean("delete_files_written", "sources.GraftLog.write"),
            "sources.GraftLog.files_scanned": mean("files_scanned", "sources.GraftLog.read."),
            "sources.GraftLog.files_skipped": sum(live[i] - f for i, f in scans) / max(len(scans), 1),
            "sources.GraftLog.live_files": sum(f.endswith(".graftlog") for f in files),
            "sources.GraftLog.live_delete_files": sum(f.endswith(".graftdel") for f in files),
            "sources.GraftLog.manifests": sum(f.endswith(".graftsnap") for f in files),
            "sources.GraftLog.table_mb": lake["sink_bytes"] / 1048576.0,
            "sources.GraftLog.bytes_rewritten_mb": mean("bytes_rewritten", "sources.GraftLog.compact", 1048576.0),
        })
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--compact-every", type=int, required=True)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        die("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as f:
        spec = json.load(f)
    classpath, jvm_opts = build()

    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    work = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=BUILD)
    try:
        inputs = os.path.join(work, "inputs")
        manifest = gen.generate(a.workload, a.seed, inputs)
        before = gen.fingerprint(inputs)
        tables = manifest["tables"]
        # rows one iteration consumes: the landed batch, or every input table
        rows = (tables["batches/batch-000.parquet"]["rows"] if a.workload == "lake_upsert"
                else sum(t["rows"] for t in tables.values()))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, *jvm_opts, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
               "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--inputs", inputs, "--work", work,
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--input-rows", str(rows), "--compact-every", str(a.compact_every),
               "--warmup", str(WARMUP[a.workload])]
        t1 = time.time()
        steal0, total0 = cpu_ticks()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=170)
        if p.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write(log.read()[-6000:])
            die(f"harness exited with {p.returncode}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        t2 = time.time()
        steal1, total1 = cpu_ticks()
        res["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        attempted, failures, recall = check_run(res, inputs, res["oracle_sql"])
        if gen.fingerprint(inputs) != before:
            failures.append("the generated inputs changed during the run")
        for phase in ("warm", "timed"):
            print(f"perfbench: {phase} iterations " + " ".join(
                f"{i['seconds']:.2f}" for i in res["iterations"] if i["phase"] == phase), file=sys.stderr)
        timed_ops = {}
        for i in res["iterations"]:
            for op in i["ops"] if i["phase"] == "timed" else []:
                timed_ops.setdefault(op["name"], []).append(op["seconds"])
        print("perfbench: timed median per op " + ", ".join(
            f"{k} {med(v):.3f}s" for k, v in timed_ops.items()), file=sys.stderr)
        if res["loop_s"] < a.seconds:
            print(f"perfbench: the inputs ran out after {res['loop_s']:.1f}s of the timed loop",
                  file=sys.stderr)
        print(f"perfbench: setup {res['setup_s']:.2f}s, generate {t1 - t0:.1f}s, harness {t2 - t1:.1f}s "
              f"(in-JVM checks {res['check_s']:.1f}s), "
              f"checks {time.time() - t2:.1f}s, cpu steal {res['steal_frac']:.2f}", file=sys.stderr)
        for msg in failures:
            print(f"perfbench: FAIL {msg}", file=sys.stderr)
        values = end_to_end(res) if a.trace == 0 else per_layer(res, recall, attempted, len(failures))
        wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            die(f"metrics not produced: {missing}")
        print(json.dumps({
            "correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
