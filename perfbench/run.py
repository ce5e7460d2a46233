#!/usr/bin/env python3
"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark's JVM side from source
(perfbench/build.py), runs one workload in one Spark local[<nproc>] JVM,
checks the program's outputs, and prints as its last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run registers listeners
(graftbench.Tracer) and reports the per-layer ones instead. The exit code
is 0 only when every output was correct.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import report  # noqa: E402

ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, build excluded
# A fixed, pre-touched heap: the whole heap is resident from the start, so
# the process's resident high-water minus the heap is its native peak.
# rss_peak_mb adds the heap's peak live size to that: the heap in use after
# a full collection at the untimed boundaries (after set-up, after each
# ingest tick, after the catalog pass). Two malloc arenas bound the native
# memory glibc reserves for Spark's many threads.
HEAP = "2g"

# Why each workload exists, and the property it varies. Catalog queries come
# from SparkEntry.benchQueries, so figures stay comparable with graft.Bench
# history; their inputs are the committed sf0.01 tables in perfbench/data.
WORKLOADS = {
    # The paper's pipeline: control scan -> fetch -> normalize ->
    # dedup-insert -> watermark advance, one op per platform micro-batch
    # (IngestJob.runWithRetry per spec, the loop runAllResilient runs).
    # Varies the sink's write use against its read use: the cold catch-up
    # tick inserts almost every fetched row, the two general ticks after it
    # mostly re-read keys the sink already holds. Corpus sizes and their
    # basis: graftbench.IngestCorpus.
    "ingest_ticks": {
        "kind": "ingest",
    },
    # Headline queries that run tens of jobs per result: per-round jobs,
    # localCheckpoint / PlanCache materialization, lake probes and streaming
    # micro-batches dominate. Varies the per-job fixed cost. k10 rides along
    # for the MergeSink commit path; the ann_graph lake pair is left out
    # because its index build alone takes 6-30 s of set-up.
    "catalog_multiround": {
        "kind": "catalog",
        "queries": [
            "gr_bfs_distance", "gr_pagerank", "dd_incr_lsh_lake", "dd_exact_substr",
            "dd_incr_substr_lake", "dd_incr_components", "dd_components_star",
            "tx_bpe_merge", "ann_graph_beam", "pipe_incremental_corpus_lake",
            "ev_stream_scd2", "k10_merge_upsert",
        ],
    },
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def live_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_jvm(classpath, workload, args, work, out):
    wl = WORKLOADS[workload]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
           f"-Dderby.system.home={work}/derby"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", classpath, "graftbench.Main",
                 "--launched-ms", str(int(time.time() * 1000)),
                 "--workload", wl["kind"], "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--cores", str(live_cores()), "--out", out]
    if wl["kind"] == "catalog":
        cmd += ["--queries", ",".join(wl["queries"]),
                "--data", os.path.join(HERE, "data", "sf0.01")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True, env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    try:
        _, err = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload}: the JVM outlived {DEADLINE_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(err[-4000:])
        fail(f"{workload}: the JVM exited with code {proc.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's record under .bench_build")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="catalog: write this run's fingerprints as the expected ones")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this checkout")
    classpath = build.build()

    work = os.path.join(build.OUT, "run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        run_jvm(classpath, args.workload, args, work, out)
        with open(out) as fh:
            rec = json.load(fh)
        if args.keep:
            shutil.copy(out, os.path.join(build.OUT, f"record-{args.workload}-{args.seed}-{args.trace}.json"))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    expected = None
    if WORKLOADS[args.workload]["kind"] == "catalog":
        path = os.path.join(HERE, "expected", "fingerprints_sf0.01.json")
        with open(path) as fh:
            expected = json.load(fh)
        if args.record_fingerprints:
            expected.update({o["name"]: o["fingerprint"] for o in rec["ops"] if not o.get("error")})
            with open(path, "w") as fh:
                json.dump(dict(sorted(expected.items())), fh, indent=1)
                fh.write("\n")
    result = report.summarize(rec, args.workload, trace=bool(args.trace), expected=expected,
                              sink_of=report.SINK_OF)
    spans = result.pop("spans")
    if spans:
        with open(os.path.join(build.OUT, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(spans, fh)
    for line in result.pop("notes"):
        print(line)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
