"""Turns one JVM run record (graftbench.Main) into the benchmark's result:
correctness verdicts per op, end-to-end metrics, and, for a traced run,
per-layer metrics. Pure: tested in perfbench/tests."""
import json
import os

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))

PLATFORMS = ["twitter", "twitter2", "twitter3", "instagram", "trustpilot", "feefo",
             "google_maps", "reddit", "facebook", "linkedin"]
SINK_OF = {
    "twitter": "twitter_mentions", "twitter2": "twitter_mentions",
    "twitter3": "twitter_mentions", "instagram": "instagram_mentions",
    "trustpilot": "trustpilot_reviews", "feefo": "feefo_reviews",
    "google_maps": "google_maps_reviews", "reddit": "reddit_posts",
    "facebook": "facebook_posts", "linkedin": "linkedin_posts",
}
# General()'s staleness gate, for the eligibility count
STALENESS_MS = 40 * 60000

# query families of the catalog workloads in BENCHMARK.json
FAMILIES = ["dd", "gr", "tx", "ann", "pipe", "ev", "k"]
# the multi-round queries ROADMAP names, as far as the workloads run them
NAMED_QUERIES = [
    "gr_bfs_distance", "gr_pagerank", "dd_incr_lsh_lake", "dd_exact_substr",
    "dd_incr_substr_lake", "dd_incr_components", "dd_components_star", "tx_bpe_merge",
    "ann_graph_beam", "pipe_incremental_corpus_lake",
]

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("bootstrap_s", "s"),
    ("rows_per_s", "rows/s"), ("rss_peak_mb", "MB"),
]

PER_LAYER = (
    [("sessions.build_s", "s"), ("setup.inputs_s", "s"), ("setup.warmup_s", "s"),
     ("sparkentry.prestage_s", "s")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
       ("spark.sched_wait_s", "s"), ("spark.driver_only_s", "s"), ("spark.core_util", "ratio"),
       ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB")]
    + [("catalyst.plan_s", "s"), ("catalyst.actions", "count")]
    + [(f"ingestjob.op_s.{p}", "s") for p in PLATFORMS]
    + [("ingestjob.jobs_per_op", "count"), ("ingestjob.companies_eligible", "count"),
       ("ingestjob.companies_advanced", "count")]
    + [("connector.files_read", "count"), ("connector.rows_read", "count"),
       ("connector.scan_s", "s")]
    + [("normalize.rows_out", "count"), ("normalize.drop_frac", "ratio")]
    + [("dedupsink.s", "s"), ("dedupsink.jobs", "count"), ("dedupsink.inserted", "count"),
       ("dedupsink.dup_skipped", "count"), ("dedupsink.useful_frac", "ratio"),
       ("dedupsink.existing_files_scanned", "count"), ("dedupsink.files_written", "count"),
       ("dedupsink.bytes_per_row", "B"), ("dedupsink.sink_files", "count")]
    + [("watermarks.s", "s"), ("watermarks.rewrites", "count")]
    + [("mergesink.s", "s"), ("mergesink.jobs", "count")]
    + [m for f in FAMILIES for m in ((f"family.{f}.wall_s", "s"), (f"family.{f}.jobs", "count"))]
    + [m for q in NAMED_QUERIES for m in ((f"query.{q}.wall_s", "s"), (f"query.{q}.jobs", "count"))]
    + [("materialize.blocks_written", "count"), ("materialize.mb_written", "MB"),
       ("memo.mb_resident", "MB")]
    + [("stream.batches", "count"), ("stream.batch_s", "s"), ("stream.state_rows", "count")]
    + [("jvm.gc_s", "s"), ("jvm.heap_after_gc_mb", "MB")]
    + [("trace.wall_s", "s"), ("trace.listener_s", "s")]
)


def _dur_s(o):
    return (o["end"] - o["start"]) / 1000.0


def verdicts(rec, expected, sink_of):
    """{op name: reason} for every failed op: an exception or watchdog
    timeout, or an output that disagrees with the ledger / fingerprint."""
    bad = {}
    for o in rec["ops"]:
        if o.get("error"):
            bad[f"{o['pass']}:{o['name']}"] = o["error"]
    for c in rec.get("checks", []):  # a failed prestage fails its query
        for o in rec["ops"]:
            if not c["ok"] and o["name"] == c["op"]:
                bad.setdefault(f"{o['pass']}:{o['name']}", f"{c['check']}: {c.get('detail', '')}")
    if rec["workload"] == "ingest":
        states = rec.get("watermark_states", [])
        for p in rec["passes"]:
            ops = [o for o in rec["ops"] if o["pass"] == p["pass"] and not o.get("error")]
            st = [s for s in states if s["pass"] == p["pass"]]
            for name, why in benchlib.ledger_failures(ops, p["ledger"], st).items():
                bad.setdefault(f"{p['pass']}:{name}", why)
            for name, why in benchlib.sink_failures(p, ops, sink_of).items():
                bad.setdefault(f"{p['pass']}:{name}", why)
    elif expected is not None:
        for o in rec["ops"]:
            if o.get("error"):
                continue
            want = expected.get(o["name"])
            if o.get("fingerprint") != want:
                bad.setdefault(f"{o['pass']}:{o['name']}",
                               f"fingerprint {o.get('fingerprint')} != expected {want}")
    return bad


def end_to_end(rec):
    """The end-to-end metrics, and beside them op_tail_s with its percentile
    and sample count. op_tail_s is printed, not reported: a run has 20
    (ingest) or 12 (catalog) ops, and with fewer than 21 the tail rule
    falls back to the median, so it would repeat op_p50_s."""
    ingest = rec["workload"] == "ingest"
    ops = [o for o in rec["ops"] if (o["phase"] == "steady") or not ingest]
    lat = [_dur_s(o) for o in ops]
    tail, pct, n = benchlib.tail(lat)
    walls = [p["wall_s"] for p in rec["passes"]]
    if ingest:
        boot = benchlib.median([p["bootstrap_s"] for p in rec["passes"]])
    else:
        boot = rec["setup"]["sparkentry.prestage_s"]
    rates = [p["delivered"] / p["wall_s"] for p in rec["passes"] if p["wall_s"] > 0]
    m = {
        "setup_s": (rec["first_op_ms"] - rec["launched_ms"]) / 1000.0,
        "wall_s": benchlib.median(walls),
        "op_p50_s": benchlib.median(lat),
        "bootstrap_s": boot,
        "rows_per_s": benchlib.median(rates),
        "rss_peak_mb": rec["jvm"]["rss_peak_mb"],
    }
    return m, {"op_tail_s": tail, "op_tail_pct": pct, "op_tail_n": n}


def per_layer(rec):
    """Per-layer figures of a traced run (every PER_LAYER name; 0 where a
    layer does no work in this workload)."""
    t = rec["trace"]
    ingest = rec["workload"] == "ingest"
    ops = rec["ops"]
    run_end = max(o["end"] for o in ops)
    spans = benchlib.build_spans(rec["first_op_ms"], run_end, ops, t["jobs"])
    op_spans = [s for s in spans if s["kind"] == "op"]
    job_spans = [s for s in spans if s["kind"] == "job" and s["op"]]
    stages = {s["id"]: s for s in t["stages"]}

    def in_ops(ms):
        return any(s["start"] <= ms <= s["end"] for s in op_spans)

    # completed stages of the jobs in ops (a skipped stage never completes)
    op_stages = [stages[sid] for sid in {sid for j in job_spans for sid in j["job"]["stages"]}
                 if sid in stages]

    def stage_sum(key):
        return sum(s[key] for s in op_stages)

    m = {name: 0.0 for name, _ in PER_LAYER}
    m.update({k: float(v) for k, v in rec["setup"].items() if k in m})
    op_wall = sum(_dur_s(o) for o in ops)
    task_s = stage_sum("task_ms") / 1000.0
    m.update({
        "spark.jobs": len(job_spans),
        "spark.stages": len(op_stages),
        "spark.tasks": stage_sum("tasks"),
        "spark.task_s": task_s,
        "spark.cpu_s": stage_sum("cpu_ns") / 1e9,
        "spark.gc_s": stage_sum("gc_ms") / 1000.0,
        "spark.sched_wait_s": stage_sum("sched_ms") / 1000.0,
        "spark.driver_only_s": sum(s["self_ms"] for s in op_spans) / 1000.0,
        "spark.core_util": task_s / (op_wall * rec["cores"]) if op_wall else 0.0,
        "spark.shuffle_read_mb": stage_sum("shuffle_read_b") / 1048576.0,
        "spark.shuffle_write_mb": stage_sum("shuffle_write_b") / 1048576.0,
        "spark.spill_mb": stage_sum("spill_b") / 1048576.0,
    })
    execs = [e for e in t["execs"] if in_ops(e["start"] or e["end"])]
    m["catalyst.plan_s"] = sum(e["plan_ms"] for e in execs) / 1000.0
    m["catalyst.actions"] = len(execs)

    module = benchlib.attribute_jobs(t["jobs"])
    by_module = {}
    for j in job_spans:
        by_module.setdefault(module[j["job"]["id"]], []).append(j)
    for mod in ("dedupsink", "watermarks", "mergesink"):
        js = by_module.get(mod, [])
        m[f"{mod}.s"] = sum(j["end"] - j["start"] for j in js) / 1000.0
        if f"{mod}.jobs" in m:
            m[f"{mod}.jobs"] = len(js)

    m["connector.scan_s"] = sum(s["task_ms"] for s in op_stages if s["source_scan"]) / 1000.0
    m["connector.files_read"] = sum(e["src_files"] for e in execs)
    m["connector.rows_read"] = sum(e["src_rows"] for e in execs)

    if ingest:
        steady = [o for o in ops if o["phase"] == "steady"]
        for p in PLATFORMS:
            m[f"ingestjob.op_s.{p}"] = benchlib.median([_dur_s(o) for o in steady if o["platform"] == p])
        steady_ids = {f"op{i}" for i, o in enumerate(ops) if o["phase"] == "steady"}
        m["ingestjob.jobs_per_op"] = (sum(1 for j in job_spans if j["op"] in steady_ids) / len(steady)
                                      if steady else 0.0)
        eligible = advanced = 0
        for st in rec.get("watermark_states", []):
            if st["tick"] == 0:
                continue
            before, after = st["before"], st["after"]
            eligible += sum(1 for w in before.values() if w < st["at"] - STALENESS_MS)
            advanced += sum(1 for k, w in after.items() if before.get(k) != w)
        m["ingestjob.companies_eligible"] = eligible
        m["ingestjob.companies_advanced"] = advanced
        rows_out = sum(e["window_rows"] for e in execs if e["func"] == "localCheckpoint")
        offered = sum(l["new"] + l["reserved"] + l["malformed"]
                      for p in rec["passes"] for l in p["ledger"])
        inserted = sum(o["inserted"] for o in ops if "inserted" in o)
        m["normalize.rows_out"] = rows_out
        m["normalize.drop_frac"] = 1.0 - rows_out / offered if offered else 0.0
        m["dedupsink.inserted"] = inserted
        m["dedupsink.dup_skipped"] = rows_out - inserted
        m["dedupsink.useful_frac"] = inserted / rows_out if rows_out else 0.0
        m["dedupsink.existing_files_scanned"] = sum(e["sink_files_scanned"] for e in execs)
        sink_writes = [w for e in execs for w in e["writes"] if w["target"] == "sink"]
        m["dedupsink.files_written"] = sum(w["files"] for w in sink_writes)
        rows_w = sum(w["rows"] for w in sink_writes)
        m["dedupsink.bytes_per_row"] = sum(w["bytes"] for w in sink_writes) / rows_w if rows_w else 0.0
        m["dedupsink.sink_files"] = benchlib.median(
            [sum(s["files"] for s in p["sinks"].values()) for p in rec["passes"]])
        m["watermarks.rewrites"] = sum(1 for e in execs for w in e["writes"] if w["target"] == "users")
    else:
        fam_wall, fam_jobs = {}, {}
        for i, o in enumerate(ops):
            f = benchlib.family_of(o["name"])
            fam_wall[f] = fam_wall.get(f, 0.0) + _dur_s(o)
            fam_jobs[f] = fam_jobs.get(f, 0) + sum(1 for j in job_spans if j["op"] == f"op{i}")
        for f in FAMILIES:
            m[f"family.{f}.wall_s"] = fam_wall.get(f, 0.0)
            m[f"family.{f}.jobs"] = fam_jobs.get(f, 0)
        for q in NAMED_QUERIES:
            idx = [i for i, o in enumerate(ops) if o["name"] == q]
            if idx:
                m[f"query.{q}.wall_s"] = benchlib.median([_dur_s(ops[i]) for i in idx])
                m[f"query.{q}.jobs"] = benchlib.median(
                    [sum(1 for j in job_spans if j["op"] == f"op{i}") for i in idx])
    blocks = [b for b in t["blocks"] if in_ops(b["t"])]
    m["materialize.blocks_written"] = len(blocks)
    m["materialize.mb_written"] = sum(b["bytes"] for b in blocks) / 1048576.0
    m["memo.mb_resident"] = t["memo_mb_resident"]
    progress = [s for s in t["streams"] if in_ops(s["t"])]
    m["stream.batches"] = len(progress)
    m["stream.batch_s"] = sum(s["batch_ms"] for s in progress) / 1000.0
    last_state = {}
    for s in progress:
        last_state[s["query"]] = s["state_rows"]
    m["stream.state_rows"] = sum(last_state.values())
    m["jvm.gc_s"] = rec["jvm"]["gc_s"]
    m["jvm.heap_after_gc_mb"] = rec["jvm"]["heap_after_gc_mb"]
    wall = benchlib.median([p["wall_s"] for p in rec["passes"]])
    m["trace.wall_s"] = wall
    m["trace.listener_s"] = t["listener_s"]
    for s in spans:  # the job record rides along only for the metrics above
        s.pop("job", None)
    return m, {"jobs_by_module": {k: len(v) for k, v in by_module.items()}, "spans": spans}


def summarize(rec, workload, trace, expected, sink_of):
    bad = verdicts(rec, expected, sink_of)
    attempted = len(rec["ops"])
    failed = len(bad)
    notes = [f"[perfbench] FAIL {k}: {v}" for k, v in sorted(bad.items())]
    e2e, info = end_to_end(rec)
    notes.append(f"[perfbench] {workload} seed={rec['seed']} cores={rec['cores']} "
                 f"heap_mb={rec['heap_mb']} passes={len(rec['passes'])} ops={attempted} "
                 f"failed_frac={failed / attempted if attempted else 1.0:.4f} "
                 f"op_tail_s={info['op_tail_s']:.4f} (p{info['op_tail_pct']:g} of n={info['op_tail_n']}) "
                 f"native_peak_mb={rec['jvm'].get('native_peak_mb', 0):.1f} "
                 f"live_heap_peak_mb={rec['jvm'].get('live_heap_peak_mb', 0):.1f}")
    spans = []
    if trace:
        metrics, extra = per_layer(rec)
        spans = extra["spans"]
        units = dict(PER_LAYER)
        notes.append(f"[perfbench] jobs by module: {json.dumps(extra['jobs_by_module'], sort_keys=True)}")
    else:
        metrics = e2e
        units = dict(END_TO_END)
    notes.append("[perfbench] " + json.dumps({"end_to_end": e2e}))
    return {
        "correct": not bad and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "notes": notes,
        "spans": spans,
    }
