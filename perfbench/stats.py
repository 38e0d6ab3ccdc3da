"""Metric arithmetic for the graft benchmark.

Pure functions over the run record that graft.perfbench.Main writes:
percentiles, failure accounting, span self times, and the end-to-end
and per-layer metrics built from them.
run.py applies them; test_stats.py tests them.
"""

import math
import statistics
from collections import defaultdict

# The operations each workload times, with the share each has in the
# workload's designed mix. batch_lines times every line call, each line
# weighing the same.
MIX = {
    "serve_search": {"exact": 0.3, "medium": 0.3, "radius": 0.1, "filtered": 0.2,
                     "listing": 0.1},
    "batch_lines": None,
}
LINES = ["knn_cosine", "filter_dsl", "knn_batch", "dedup_exact", "events_pmi",
         "pipeline_curate_v2"]
# The API writes of the traced serving run, after its measured window.
WRITES = ["insert", "update", "delete"]
SPAN_NAMES = ["request", "handler", "job", "line", "construct", "execute", "plan",
              "collection.build", "collection.execute"]

END_TO_END = [
    ("setup_s", "s"),
    ("op_ms", "ms"),
    ("op_cpu_ms", "ms"),
    ("heap_live_mb", "MiB"),
]

PER_LAYER = (
    [("serving.transport_ms", "ms"),
     ("serving.handler_ms.search", "ms"),
     ("serving.handler_ms.write", "ms"),
     ("serving.jobs_per_search", "count"),
     ("serving.jobs_per_write", "count"),
     ("collection.search_build_ms", "ms"),
     ("collection.search_exec_ms", "ms"),
     ("collection.rows_read_frac", "frac"),
     ("collection.percent_searched", "%"),
     ("collection.shuffle_bytes_per_search", "bytes"),
     ("collection.write_ms.insert", "ms"),
     ("collection.write_ms.update", "ms"),
     ("collection.write_ms.delete", "ms"),
     ("collection.compact_ms", "ms"),
     ("collection.log_files", "count"),
     ("collection.space_amp", "ratio"),
     ("query.compile_us", "us"),
     ("operators.task_cpu_ms_per_search", "ms"),
     ("operators.ann_recall_at_10", "frac")]
    + [(f"line.{n}.{m}", u) for n in LINES
       for m, u in (("wall_s", "s"), ("construct_s", "s"), ("exec_s", "s"),
                    ("jobs", "count"), ("task_cpu_s", "s"))]
    + [("spark.plan_ms", "ms"),
       ("spark.jobs", "count"),
       ("spark.tasks", "count"),
       ("spark.task_cpu_ms", "ms"),
       ("spark.job_wait_ms", "ms"),
       ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"),
       ("spark.rows_read", "count"),
       ("jvm.gc_ms", "ms"),
       ("trace.overhead_frac", "frac")]
    + [(f"self_ms.{n}", "ms") for n in SPAN_NAMES]
)


def percentile(xs, p):
    """The p-th percentile (0-100) of xs, interpolating linearly between
    order statistics."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported_percentile(n, beyond=10, ladder=(50, 75, 90, 95, 99, 99.9)):
    """The highest percentile of the ladder that leaves at least `beyond`
    of n samples above it, or None when even the median does not."""
    best = None
    for p in ladder:
        if round(n * (100 - p) / 100.0, 9) >= beyond:
            best = p
    return best


def design_drift(context, workload):
    """None when the run timed the kinds this module weighs (the search
    mix's shares, or the lines in order), else what differs."""
    got, want = context.get("design"), MIX[workload] or LINES
    if isinstance(want, dict):
        same = (isinstance(got, dict) and set(got) == set(want)
                and all(abs(got[k] - want[k]) < 1e-9 for k in want))
    else:
        same = got == want
    return None if same else f"the run timed {got}, stats.py weighs {want}"


def is_timed(op, workload):
    kinds = MIX[workload]
    return op["phase"] == "measure" and (kinds is None or op["kind"] in kinds)


def by_kind(ops, workload):
    """{kind: latency samples} of the ok timed ops."""
    out = defaultdict(list)
    for o in ops:
        if o["ok"] and is_timed(o, workload):
            out[o["kind"]].append(o["ms"])
    return dict(out)


def mix_latency(samples_by_kind, weights=None):
    """The median latency of each kind, weighted by the kind's share of the
    designed mix (equal shares when weights is None), so that each kind
    weighs its share however many samples of it a run holds. Kinds
    without samples drop out and the remaining shares are rescaled."""
    kinds = [k for k, xs in samples_by_kind.items() if xs]
    if not kinds:
        return 0.0
    w = {k: (weights[k] if weights else 1.0) for k in kinds}
    total = sum(w.values())
    return sum(w[k] / total * statistics.median(samples_by_kind[k]) for k in kinds)


def account(ops, workload):
    """(attempted, failed, samples). Every op issued counts as attempted,
    every op that is not ok as failed; a latency sample is an ok timed op
    of the measured window, so a failure is never a sample."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    samples = [o["ms"] for o in ops if o["ok"] and is_timed(o, workload)]
    return attempted, failed, samples


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval that its child spans cover (children clipped to it, overlaps
    counted once)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children[s["id"]]]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(
            [iv for iv in covered if iv[1] > iv[0]])
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw, workload):
    """The end-to-end metrics of an untraced run."""
    ops = raw["ops"]
    timed = [o for o in ops if is_timed(o, workload)]
    first = min((o["start"] for o in timed), default=raw["jvm_start_ms"])
    return {
        "setup_s": (first - raw["jvm_start_ms"]) / 1000.0,
        "op_ms": mix_latency(by_kind(ops, workload), MIX[workload]),
        "op_cpu_ms": raw["layer"]["raw.measure_cpu_ms"] / max(1, len(timed)),
        "heap_live_mb": raw["heap_live_mb"],
    }


def kind_summary(ops, workload):
    """Per timed kind: sample count, median, and the highest percentile
    the count supports, for the run's context."""
    out = {}
    for k, xs in sorted(by_kind(ops, workload).items()):
        p = supported_percentile(len(xs))
        out[k] = {"n": len(xs), "p50_ms": percentile(xs, 50),
                  "tail_percentile": p, "tail_ms": percentile(xs, p) if p else None}
    return out


def per_layer(raw, spans, workload):
    """The per-layer metrics of a traced run; 0 where a layer does not
    run in the workload."""
    ops, layer = raw["ops"], raw["layer"]
    out = {name: 0.0 for name, _ in PER_LAYER}
    jobs_of = defaultdict(list)
    for s in spans:
        if s["name"] == "job":
            jobs_of[s["parent"]].append(s)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def job_sum(span_id, attr):
        return sum(j["attrs"][attr] for j in jobs_of[span_id])

    # serving: handler spans are "h:<kind>-<n>", their requests "r:<kind>-<n>"
    requests = {s["id"]: s for s in by_name["request"]}
    handlers = by_name["handler"]

    def kind(span_id):
        return span_id[2:].rsplit("-", 1)[0]

    searches = [h for h in handlers if kind(h["id"]) in MIX["serve_search"]]
    writes = [h for h in handlers if kind(h["id"]) in WRITES]
    live = layer.get("raw.live_rows", 0.0)
    out["serving.transport_ms"] = _median(
        [dur(requests[h["parent"]]) - dur(h) for h in handlers if h["parent"] in requests])
    out["serving.handler_ms.search"] = _median([dur(h) for h in searches])
    out["serving.handler_ms.write"] = _median([dur(h) for h in writes])
    out["serving.jobs_per_search"] = _mean([len(jobs_of[h["id"]]) for h in searches])
    out["serving.jobs_per_write"] = _mean([len(jobs_of[h["id"]]) for h in writes])
    if live:
        out["collection.rows_read_frac"] = _mean(
            [job_sum(h["id"], "rows_read") for h in searches]) / live
    out["collection.shuffle_bytes_per_search"] = _mean(
        [job_sum(h["id"], "shuffle_write_bytes") for h in searches])
    out["operators.task_cpu_ms_per_search"] = _mean(
        [job_sum(h["id"], "task_cpu_ms") for h in searches])

    # after the measured window: searches called on the Collection
    # directly, and writes through the API, whose handler does little
    # beyond the Collection calls
    out["collection.search_build_ms"] = _median([dur(s) for s in by_name["collection.build"]])
    out["collection.search_exec_ms"] = _median([dur(s) for s in by_name["collection.execute"]])
    for w in WRITES + ["compact"]:
        key = "collection.compact_ms" if w == "compact" else f"collection.write_ms.{w}"
        out[key] = _median([dur(h) for h in handlers if kind(h["id"]) == w])
    for name, key in (("collection.percent_searched", "raw.percent_searched"),
                      ("collection.log_files", "raw.log_files"),
                      ("collection.space_amp", "raw.space_amp"),
                      ("query.compile_us", "raw.query_compile_us"),
                      ("operators.ann_recall_at_10", "raw.ann_recall_at_10")):
        out[name] = layer.get(key, 0.0)

    # SparkEntry lines: line "l:<pass>:<name>" -> construct "c:..", execute "e:.."
    lines = defaultdict(lambda: defaultdict(list))
    for s in by_name["line"]:
        _, pas, name = s["id"].split(":", 2)
        c, e = f"c:{pas}:{name}", f"e:{pas}:{name}"
        parts = [p for p in spans if p["id"] in (c, e)]
        acc = lines[name]
        acc["wall_s"].append(dur(s) / 1000)
        acc["construct_s"].append(sum(dur(p) for p in parts if p["name"] == "construct") / 1000)
        acc["exec_s"].append(sum(dur(p) for p in parts if p["name"] == "execute") / 1000)
        acc["jobs"].append(len(jobs_of[c]) + len(jobs_of[e]))
        acc["task_cpu_s"].append((job_sum(c, "task_cpu_ms") + job_sum(e, "task_cpu_ms")) / 1000)
    for name, acc in lines.items():
        for metric, xs in acc.items():
            key = f"line.{name}.{metric}"
            if key in out:
                out[key] = _median(xs)

    # the Spark engine, per traced timed op; the direct searches ("d:")
    # and the writes are not part of the measured window
    def measured(group):
        if group.startswith("h:"):
            return MIX[workload] is not None and kind(group) in MIX[workload]
        return not group.startswith("d:")

    traced = [o for o in ops if is_timed(o, workload) and o["traced"]]
    n = len(traced)
    measured_jobs = [j for j in by_name["job"] if measured(j["parent"])]
    if n:
        plan = layer.get("raw.plan_ms", 0.0) + sum(dur(s) for s in by_name["plan"])
        out["spark.plan_ms"] = plan / n
        out["spark.jobs"] = len(measured_jobs) / n
        for metric, attr in (("spark.tasks", "tasks"), ("spark.task_cpu_ms", "task_cpu_ms"),
                             ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                             ("spark.spill_bytes", "spill_bytes"),
                             ("spark.rows_read", "rows_read")):
            out[metric] = sum(j["attrs"][attr] for j in measured_jobs) / n
        out["jvm.gc_ms"] = layer.get("raw.gc_ms", 0.0) / n
    out["spark.job_wait_ms"] = _mean([j["attrs"]["wait_ms"] for j in measured_jobs])

    # tracing overhead: traced against untraced blocks of the same run,
    # kind by kind, then the median over kinds
    ratios = []
    kinds = {o["kind"] for o in ops if is_timed(o, workload)}
    for k in sorted(kinds):
        on = [o["ms"] for o in ops if is_timed(o, workload) and o["ok"] and o["kind"] == k
              and o["traced"]]
        off = [o["ms"] for o in ops if is_timed(o, workload) and o["ok"] and o["kind"] == k
               and not o["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    out["trace.overhead_frac"] = _median(ratios) - 1.0 if ratios else 0.0

    selfs = self_times(spans)
    for name in SPAN_NAMES:
        out[f"self_ms.{name}"] = _mean([selfs[s["id"]] for s in by_name[name]])
    return out
