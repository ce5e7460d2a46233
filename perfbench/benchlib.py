"""Pure functions of the benchmark: percentiles, spans, job attribution,
ledger checks and metric assembly. No Spark, no I/O, so they are tested
directly (perfbench/tests)."""
import re
import statistics

# ---------------------------------------------------------------- percentiles

def percentile(values, p):
    """Linear-interpolated percentile (numpy's default), p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, beyond=10):
    """op_tail_s: the highest whole percentile p with at least `beyond` ops
    beyond it, i.e. n * (1 - p/100) >= beyond, and never below the median
    (fewer than 2 * beyond ops report p50). Returns (value, p, n)."""
    n = len(values)
    p = 50
    while p < 99 and n * (100 - (p + 1)) >= beyond * 100:
        p += 1
    return percentile(values, p), p, n


# ---------------------------------------------------------------- attribution

# source file of a call-site frame -> module of this repo
MODULES = {
    "DedupSink.scala": "dedupsink",
    "Watermarks.scala": "watermarks",
    "IngestJob.scala": "ingestjob",
    "Scheduler.scala": "ingestjob",
    "Connector.scala": "connector",
    "AsyncPoll.scala": "connector",
    "FixtureSource.scala": "connector",
    "Normalize.scala": "normalize",
    "MergeSink.scala": "mergesink",
    "PlanCache.scala": "materialize",
    "VersionedMemo.scala": "materialize",
    "StreamQueries.scala": "stream",
    "EventsStream.scala": "stream",
}
_FRAME = re.compile(r"\(([A-Za-z0-9_$]+\.scala):\d+\)")
_SHORT = re.compile(r" at ([A-Za-z0-9_$]+\.scala):\d+")


def module_of(callsite_short, callsite_long=""):
    """Module a Spark job belongs to, from its call site: the innermost
    frame (first in the long form, else the short form's file) whose source
    file is a known module; jobs of other program files count as
    `analytics` when the file is a query tier, `other` otherwise."""
    files = _FRAME.findall(callsite_long or "")
    m = _SHORT.search(callsite_short or "")
    if m:
        files = [m.group(1)] + files
    for f in files:
        if f in MODULES:
            return MODULES[f]
    for f in files:
        if f.endswith("Queries.scala") or f in ("AnnLake.scala", "AnnGraphLake.scala",
                                                 "Purge.scala", "InvertedIndex.scala"):
            return "analytics"
    return "other"


def attribute_jobs(jobs):
    """{job id: module}. A job without a module frame (AQE query-stage jobs
    carry a pool thread's call site) takes the module of another job of
    the same root SQL execution that has one, else of the next job to
    start that has one (AQE runs an action's stages before its result
    job)."""
    own = {j["id"]: module_of(j.get("callsite", ""), j.get("callsite_long", "")) for j in jobs}
    by_exec = {}
    for j in jobs:
        if j.get("exec_id") and own[j["id"]] != "other":
            by_exec.setdefault(j["exec_id"], own[j["id"]])
    out, pending = {}, []
    for j in sorted(jobs, key=lambda j: (j["start"], j["id"])):
        m = own[j["id"]] if own[j["id"]] != "other" else by_exec.get(j.get("exec_id"), "other")
        if m == "other":
            pending.append(j["id"])
            continue
        for p in pending:
            out[p] = m
        pending = []
        out[j["id"]] = m
    out.update({p: "other" for p in pending})
    return out


def family_of(query):
    """Query family: the leading letters of the name (s1_f1 -> s, tpch_q1 -> tpch)."""
    return re.match(r"[a-z]+", query).group(0)


# ---------------------------------------------------------------- spans

def union_ms(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def build_spans(run_start, run_end, ops, jobs):
    """One span for the run, one per op, one per job. A job's parent is the
    op whose [start, end] holds the job's start, else the run. Spans of one
    op share its id. Each span gets `self_ms`: its length minus the union of
    its children's (clipped to the span)."""
    spans = [{"id": "run", "kind": "run", "name": "run", "start": run_start,
              "end": run_end, "parent": None}]
    for i, o in enumerate(ops):
        spans.append({"id": f"op{i}", "kind": "op", "name": o["name"], "start": o["start"],
                      "end": o["end"], "parent": "run", "op": f"op{i}"})
    op_spans = spans[1:]
    for j in jobs:
        parent = next((s["id"] for s in op_spans if s["start"] <= j["start"] <= s["end"]), "run")
        spans.append({"id": f"job{j['id']}", "kind": "job", "name": j.get("callsite", ""),
                      "start": j["start"], "end": j["end"], "parent": parent,
                      "op": parent if parent != "run" else None, "job": j})
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        s["self_ms"] = (s["end"] - s["start"]) - union_ms(kids)
    return spans


# ---------------------------------------------------------------- ledger

def ledger_failures(ops, ledger, states):
    """Names of ingest ops whose outcome disagrees with the generator's
    ledger: inserted count or per-tenant counts differ, or the control
    table's watermarks after the op's tick differ from the ledger's."""
    want = {(l["tick"], l["platform"]): l for l in ledger}
    bad = {}
    for o in ops:
        if "tick" not in o:
            continue
        l = want.get((o["tick"], o["platform"]))
        if l is None:
            bad[o["name"]] = "no ledger row"
        elif o["inserted"] != l["new"]:
            bad[o["name"]] = f"inserted {o['inserted']} != ledger {l['new']}"
        elif {k: v for k, v in o["per_tenant"].items() if v} != {k: v for k, v in l["per_tenant"].items() if v}:
            bad[o["name"]] = "per-tenant counts differ from ledger"
    for st in states:
        after, expected = st["after"], st["expected"]
        for key in set(after) | set(expected):
            if after.get(key) != expected.get(key):
                platform = key.split("|")[-1]
                name = f"t{st['tick']}/{platform}"
                bad.setdefault(name, f"watermark {key}: {after.get(key)} != ledger {expected.get(key)}")
    return bad


def sink_failures(pass_record, ops, sink_of):
    """Whole-pass checks: no duplicate conflict key in any sink, rows in
    each sink equal to what its platforms reported inserting, and a re-tick
    at the final clock inserting nothing. A failure is charged to the last
    op of each platform writing that sink (the re-tick: to every platform's
    last op)."""
    bad = {}
    last = {}
    for o in ops:
        if "platform" in o:
            last[o["platform"]] = o["name"]
    inserted = {}
    for o in ops:
        if "platform" in o:
            sink = sink_of[o["platform"]]
            inserted[sink] = inserted.get(sink, 0) + o["inserted"]
    sinks = pass_record["sinks"]
    for sink in set(inserted) | set(sinks):
        s = sinks.get(sink, {"rows": 0, "dup_keys": 0})
        why = None
        if s["dup_keys"]:
            why = f"{sink}: {s['dup_keys']} duplicate conflict keys"
        elif s["rows"] != inserted.get(sink, 0):
            why = f"{sink}: {s['rows']} rows != {inserted.get(sink, 0)} inserted"
        if why:
            for p, sk in sink_of.items():
                if sk == sink and p in last:
                    bad.setdefault(last[p], why)
    rt = pass_record["retick"]
    if rt["inserted"] or rt["failures"]:
        for name in last.values():
            bad.setdefault(name, f"re-tick inserted {rt['inserted']}, failures {rt['failures']}")
    return bad


# ---------------------------------------------------------------- summaries

def median(xs, default=0.0):
    return statistics.median(xs) if xs else default
