"""End-to-end and per-layer metrics from one run's raw result.

`raw` is the JSON the JVM side writes; `trace` is its `trace` member.
Per-layer metrics need a traced run; a layer a workload does not
exercise reads 0 there.
"""
from collections import defaultdict

from stats import attribute, backlog_max, hd_quantile, median, samples_beyond

CLASSES = ("dashboard", "retrieval", "corpus")
INTERACTIVE = ("dashboard", "retrieval")


def latency_summary(values_ms):
    """Median and p90 in seconds (Harrell-Davis estimates), with the
    sample counts behind them."""
    return {
        "n": len(values_ms),
        "p50_s": hd_quantile(values_ms, 0.5) / 1000,
        "p90_s": hd_quantile(values_ms, 0.9) / 1000,
        "beyond_p50": samples_beyond(len(values_ms), 0.5),
        "beyond_p90": samples_beyond(len(values_ms), 0.9),
    }


class Attributed:
    """Jobs, their stages and Catalyst phases, each tied to a span."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        stage = {s["stage"]: s for s in trace["stages"]}
        self.jobs = []
        for j in trace["jobs"]:
            j["span"] = attribute(j["start"], j["query"], self.spans)
            j["stage_rows"] = [stage[i] for i in j["stages"] if i in stage]
            self.jobs.append(j)
        self.phases = [dict(p, span=attribute(p["start"], "", self.spans))
                       for p in trace["phases"]]

    def root(self, span_id, name):
        """The nearest ancestor-or-self span called `name`."""
        s = self.by_id.get(span_id)
        while s is not None and s["name"] != name:
            s = self.by_id.get(s["parent"])
        return s["id"] if s else None

    def per_root(self, name):
        """Root span id -> summed scheduler and executor counts."""
        acc = defaultdict(lambda: defaultdict(float))
        for j in self.jobs:
            r = self.root(j["span"], name)
            if r is None:
                continue
            a = acc[r]
            a["jobs"] += 1
            for st in j["stage_rows"]:
                a["stages"] += 1
                for k in ("tasks", "cpu_ns", "shuffle_write_bytes",
                          "records_read"):
                    a[k] += st[k]
        for p in self.phases:
            r = self.root(p["span"], name)
            if r is not None:
                acc[r]["catalyst_ms"] += p["end"] - p["start"]
        return acc


def live_mem_mb(raw):
    """Heap in use after the last full collection plus non-heap in use."""
    return raw["live_mem"]["heap_mb"] + raw["live_mem"]["non_heap_mb"]


def ingest_e2e(raw, fresh_ms, setup_s):
    lat = latency_summary(fresh_ms)
    drain_s = (raw["drain_end"] - raw["first_timed"]) / 1000
    return {
        "setup_s": setup_s,
        "live_mem_mb": live_mem_mb(raw),
        "latency_p50_s": lat["p50_s"],
        "latency_p90_s": lat["p90_s"],
        "throughput_per_s": raw["drain_rows"] / drain_s,
        "stored_bytes_per_row": raw["drain_bytes"] / raw["drain_rows"],
    }, lat


def serve_e2e(raw, setup_s, indexed_rows):
    """Latency over the interactive requests; throughput over all."""
    reqs = raw["requests"]
    lat = latency_summary([r["end"] - r["start"] for r in reqs
                           if r["class"] in INTERACTIVE])
    by_class = {c: latency_summary([r["end"] - r["start"] for r in reqs
                                    if r["class"] == c]) for c in CLASSES}
    window_s = (raw["window_end"] - raw["first_timed"]) / 1000
    return {
        "setup_s": setup_s,
        "live_mem_mb": live_mem_mb(raw),
        "latency_p50_s": lat["p50_s"],
        "latency_p90_s": lat["p90_s"],
        "throughput_per_s": len(reqs) / window_s,
        "stored_bytes_per_row": raw["store_bytes"] / indexed_rows,
    }, dict(lat, **{"classes": by_class})


def ingest_layers(raw, cores, seen, counts):
    """Per consumer batch of the drain phase, medians; plus the paced
    phase's backlog and generator lateness and the exact counts."""
    t = raw["trace"]
    at = Attributed(t)
    consumer = raw["query_ids"]["consumer"]
    producer = raw["query_ids"]["producer"]
    drain_end = raw["drain_end"] + 1
    batches = [s for s in at.spans if s["name"] == "consumer.batch"
               and s["query"] == consumer and s["end"] <= drain_end]
    named = defaultdict(dict)
    for s in at.spans:
        if s["query"] == consumer:
            named[s["req"]][s["name"]] = s
    acc = at.per_root("consumer.batch")
    per = [(s, acc[s["id"]]) for s in batches]

    def med(f):
        return median([f(s, a) for s, a in per]) if per else 0.0

    def progress(query, key):
        xs = [p["duration"].get(key, 0) for p in t["progress"]
              if p["query"] == query and p["rows"] > 0
              and p["start"] < drain_end]
        return median(xs) if xs else 0.0

    dur = lambda s: s["end"] - s["start"]
    drops = raw["drops"]
    valid = sum(p["rows"] for p in t["progress"] if p["query"] == consumer)
    return {
        "store.commit_ms": med(lambda s, a: dur(named[s["req"]]["store.commit"])),
        "pipeline.produce_ms": progress(producer, "triggerExecution"),
        "store.refresh_ms": med(lambda s, a: dur(named[s["req"]]["store.refresh"])),
        "streaming.planning_ms": progress(consumer, "queryPlanning"),
        "streaming.wal_commit_ms": progress(consumer, "walCommit"),
        "streaming.get_batch_ms": progress(consumer, "getBatch"),
        "sched.jobs_per_batch": med(lambda s, a: a["jobs"]),
        "sched.stages_per_batch": med(lambda s, a: a["stages"]),
        "sched.tasks_per_batch": med(lambda s, a: a["tasks"]),
        "exec.cpu_s_per_batch": med(lambda s, a: a["cpu_ns"] / 1e9),
        "exec.util": med(lambda s, a: a["cpu_ns"] / 1e6 / (dur(s) * cores)),
        "shuffle.mb_per_batch": med(lambda s, a: a["shuffle_write_bytes"] / 1e6),
        "store.fs_ops_per_batch": med(lambda s, a: s["fs_ops"]),
        "store.mb_written_per_batch": med(lambda s, a: s["fs_bytes_written"] / 1e6),
        "spill_gc.gc_s": med(lambda s, a: s["gc_ms"] / 1000),
        "streaming.backlog_files_max": backlog_max(seen),
        "streaming.generator_late_s": max(a - d for d, a in drops) / 1000,
        "pipeline.valid_rows": valid,
        "pipeline.quarantined_rows": raw["quarantined_rows"],
        "pipeline.anomaly_rows": counts["anomaly_rows"],
        "store.duplicates_dropped": valid - counts["stored_rows"],
    }


def serve_layers(raw):
    """Per-request medians for each class, plus the per-op breakdown."""
    t = raw["trace"]
    at = Attributed(t)
    acc = at.per_root("request")
    reqs = {r["req"]: r for r in raw["requests"]}
    spans = defaultdict(dict)
    for s in at.spans:
        spans[s["req"]][s["name"]] = s
    blocks = t["blocks"]
    rows = []
    for s in at.spans:
        if s["name"] != "request":
            continue
        r, a = reqs[s["req"]], acc[s["id"]]
        # cached and checkpointed block bytes the request added at its peak
        level = ([b["bytes"] for b in blocks if b["t"] <= s["start"]][-1:]
                 or [0])[0]
        peak = max([b["bytes"] for b in blocks
                    if s["start"] <= b["t"] <= s["end"]] + [level])
        dur = lambda n: spans[s["req"]][n]["end"] - spans[s["req"]][n]["start"]
        rows.append({
            "op": r["op"], "class": r["class"],
            "construct_ms": dur("construct"), "action_ms": dur("action"),
            "catalyst_ms": a["catalyst_ms"], "jobs": a["jobs"],
            "stages": a["stages"], "tasks": a["tasks"],
            "cpu_ms": a["cpu_ns"] / 1e6,
            "shuffle_kb": a["shuffle_write_bytes"] / 1e3,
            "rows_read_per_row_out": a["records_read"] / max(r["rows"], 1),
            "materialized_mb": (peak - level) / 1e6, "gc_ms": s["gc_ms"],
        })
    out = {}
    for c in CLASSES:
        rs = [x for x in rows if x["class"] == c]

        def med(k):
            return median([x[k] for x in rs]) if rs else 0.0
        out.update({
            f"construct.{c}_ms": med("construct_ms"),
            f"exec.{c}_action_ms": med("action_ms"),
            f"catalyst.{c}_ms": med("catalyst_ms"),
            f"sched.{c}_jobs": med("jobs"),
            f"sched.{c}_stages": med("stages"),
            f"sched.{c}_tasks": med("tasks"),
            f"exec.{c}_cpu_ms": med("cpu_ms"),
            f"shuffle.{c}_kb": med("shuffle_kb"),
            f"store.{c}_rows_read_per_row_out": med("rows_read_per_row_out"),
        })
    corpus = [x["materialized_mb"] for x in rows if x["class"] == "corpus"]
    out["materialize.corpus_peak_mb"] = median(corpus or [0.0])
    # a mean: most requests see no collection, so a median would read 0
    gc = [x["gc_ms"] for x in rows if x["class"] in INTERACTIVE]
    out["spill_gc.gc_ms"] = sum(gc) / len(gc) if gc else 0.0
    by_op = defaultdict(list)
    for x in rows:
        by_op[x["op"]].append(x)
    breakdown = {op: {k: median([x[k] for x in xs]) for k in xs[0]
                      if k not in ("op", "class")}
                 for op, xs in by_op.items()}
    return out, breakdown
