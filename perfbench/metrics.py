"""Turn one run's raw record (samples, spans, Spark listener events) into
the benchmark's end-to-end and per-layer metrics."""
import math
import statistics


# ------------------------------------------------------------- statistics

def beyond(n, q):
    """Samples that lie beyond the nearest-rank q-quantile of n samples."""
    return n - math.ceil(q * n - 1e-9)


def tail_percentile(n):
    """The percentile to report as the tail: 90 when at least ten samples
    lie beyond it, otherwise the highest whole percentile that has ten
    samples beyond it, and 50 when even that has too few."""
    for p in range(90, 49, -1):
        if beyond(n, p / 100) >= 10:
            return p
    return 50


def weighted_quantile(pairs, q):
    """Smallest value whose cumulative weight reaches q of the total, over
    (value, weight) pairs; with equal weights, the nearest-rank quantile."""
    s = sorted(pairs)
    total = sum(w for _, w in s)
    acc = 0.0
    for v, w in s:
        acc += w
        if acc >= q * total - 1e-9 * total:
            return v
    return s[-1][0]


def mix_weights(samples, mix):
    """Weight of each sample so that every call kind counts as often as it
    occurs in one cycle of the workload, however many of its calls the run
    happened to complete: the metrics then describe the workload's mix, not
    where the deadline cut the last cycle."""
    count = {}
    for s in samples:
        count[s["kind"]] = count.get(s["kind"], 0) + 1
    return [mix.get(s["kind"], 1) / count[s["kind"]] for s in samples]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    clipped to [lo, hi] when given."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------------------- end to end

def setup_seconds(rec):
    s = rec["setup"]
    return s["session_s"] + statistics.median(s["state_s"]) + s["warmup_s"]


def latency_summary(seconds, weights=None):
    """(p50 ms, tail ms, tail percentile, sample count)."""
    n = len(seconds)
    p = tail_percentile(n)
    pairs = list(zip(seconds, weights or [1.0] * n))
    return (weighted_quantile(pairs, 0.5) * 1e3,
            weighted_quantile(pairs, p / 100) * 1e3, p, n)


def kind_geomean_ms(samples):
    by_kind = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["seconds"])
    return geomean([statistics.median(v) * 1e3 for v in by_kind.values()])


def end_to_end(rec, samples):
    """The benchmark's end-to-end metrics, from untraced calls, each call
    weighted by its kind's share of the workload's mix. Latencies cover the
    calls a client waits on (every `table_ops` call, every stream batch);
    compactions, which run between batches, count in throughput."""
    mix = rec["facts"]["mix"]
    weights = mix_weights(samples, mix)
    waited = [s for s in samples if s["group"] != "compact"]
    p50, tail, p, n = latency_summary([s["seconds"] for s in waited],
                                      mix_weights(waited, mix))
    return {
        "setup_s": (setup_seconds(rec), "s"),
        "ops_per_s": (sum(weights) / sum(w * s["seconds"] for w, s in zip(weights, samples)),
                      "1/s"),
        "p50_ms": (p50, "ms"),
        "tail_ms": (tail, "ms"),
        "geomean_ms": (kind_geomean_ms(waited), "ms"),
    }, {"tail_percentile": p, "samples": n}


def workload_report(workload, rec, samples):
    """The workload's own end-to-end figures, named `<workload>.<metric>`:
    read/write latency for table_ops; batch latency, ingest rate and index
    size for index_maintain."""
    out = {"setup_s": setup_seconds(rec)}
    mix = rec["facts"]["mix"]

    def lat(prefix, group):
        part = [s for s in samples if s["group"] == group]
        xs = [s["seconds"] for s in part]
        if xs:
            p50, tail, p, n = latency_summary(xs, mix_weights(part, mix))
            out[f"{prefix}_p50_ms"] = p50
            out[f"{prefix}_p{p}_ms"] = tail
            out[f"{prefix}_samples"] = n
        return xs

    if workload == "table_ops":
        out["ops_per_s"] = end_to_end(rec, samples)[0]["ops_per_s"][0]
        lat("read", "read")
        lat("write", "write")
    else:
        lat("batch", "batch")
        out["rows_per_s"] = (sum(s["extra"].get("rows", 0) for s in samples)
                             / sum(s["seconds"] for s in samples))
        f = rec["facts"]
        out["bytes_per_live_row"] = f["index_bytes"] / f["live_rows"]
    return {f"{workload}.{k}": v for k, v in out.items()}


# ------------------------------------------------------------- per layer

PER_LAYER = [
    ("api.build_ms", "ms"),
    ("spark.analysis_ms", "ms"),
    ("spark.optimizer_ms", "ms"),
    ("spark.planning_ms", "ms"),
    ("tables.load_ms", "ms"),
    ("tables.rows_scanned_per_row_out", "ratio"),
    ("spark.input_bytes", "B"),
    ("functions.cpu_ns_per_row", "ns"),
    ("operators.jobs", "count"),
    ("operators.single_task_stage_share", "ratio"),
    ("operators.task_s", "s"),
    ("operators.outside_jobs_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.get_batch_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.overhead_ms", "ms"),
    ("streaming.probe_ms", "ms"),
    ("streaming.append_commit_ms", "ms"),
    ("streaming.outside_jobs_s", "s"),
    ("index.files", "count"),
    ("index.bytes", "B"),
    ("index.bytes_per_live_row", "B"),
    ("index.bytes_written_per_row", "B"),
    ("index.compact_s", "s"),
    ("index.compact_bytes_rewritten", "B"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"),
    ("spark.job_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.peak_heap_mb", "MB"),
    ("trace_overhead", "ratio"),
]

# query rows whose work is expression evaluation only
EXPRESSION_ROWS = {"q_text_tokens", "q_text_fingerprint"}
GROUP_PREFIX = "pb-"
STREAMING_KEYS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
    "streaming.latest_offset_ms": "latestOffset",
}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def attribute_jobs(trace, calls):
    """Map each call to its Spark jobs: by the job group the tracer set on
    the calling thread (the group names a span, whose call is known), and,
    for stream batches, by the micro-batch's query id and batch id."""
    root_of_span = {s[0]: s[2] for s in trace["spans"]}
    by_root = {c["span"]: c["call"] for c in calls}
    by_batch = {(c["extra"].get("query_id"), str(c["extra"].get("batch_id"))): c["call"]
                for c in calls if "batch_id" in c["extra"]}
    out = {c["call"]: [] for c in calls}
    for j in trace["jobs"]:
        call = None
        if j["group"].startswith(GROUP_PREFIX):
            call = by_root.get(root_of_span.get(int(j["group"][len(GROUP_PREFIX):])))
        if call is None and j["query_id"]:
            call = by_batch.get((j["query_id"], j["batch_id"]))
        if call in out:
            out[call].append(j)
    return out


def per_layer(workload, rec, untraced, traced):
    """Per-layer metrics from the traced calls of a traced run. Counts and
    times are per traced call unless the name says otherwise; a layer the
    workload does not exercise reports 0."""
    tr = rec["trace"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    n = len(traced)
    if not n:
        return m
    spans = [dict(zip(("id", "parent", "root", "name", "start", "end"), s))
             for s in tr["spans"]]
    jobs = attribute_jobs(tr, traced)
    by_root = {}
    for s in spans:
        by_root.setdefault(s["root"], []).append(s)

    def span_ms(prefix):
        return _mean([sum(s["end"] - s["start"] for s in by_root.get(c["span"], [])
                          if s["name"].startswith(prefix)) / 1e6 for c in traced])

    m["api.build_ms"] = span_ms("api.")
    m["tables.load_ms"] = (span_ms("tables.load") + span_ms("tables.fromParquet"))
    # planning phases: each query execution belongs to the call whose root
    # span contains the start of its analysis
    windows = [(c["start"] / 1e6, c["end"] / 1e6) for c in traced]
    plan = [0.0, 0.0, 0.0]
    for start, a, o, p in tr["planning"]:
        if any(lo <= start <= hi for lo, hi in windows):
            plan[0] += a
            plan[1] += o
            plan[2] += p
    m["spark.analysis_ms"], m["spark.optimizer_ms"], m["spark.planning_ms"] = (
        x / n for x in plan)

    all_jobs = [j for c in traced for j in jobs[c["call"]]]
    rows_out = sum(c["extra"].get("rows", 0) for c in traced)
    if workload == "table_ops" and rows_out:
        m["tables.rows_scanned_per_row_out"] = sum(j["input_rows"] for j in all_jobs) / rows_out
    m["spark.input_bytes"] = sum(j["input_bytes"] for j in all_jobs) / n
    expr = [j for c in traced if c["kind"] in EXPRESSION_ROWS for j in jobs[c["call"]]]
    rows_in = sum(j["input_rows"] for j in expr)
    if rows_in:
        m["functions.cpu_ns_per_row"] = sum(j["cpu_ns"] for j in expr) / rows_in
    stages = sum(j["stages"] for j in all_jobs)
    m["operators.jobs"] = len(all_jobs) / n
    m["operators.single_task_stage_share"] = (
        sum(j["single_task_stages"] for j in all_jobs) / stages if stages else 0.0)
    m["operators.task_s"] = sum(j["run_ms"] for j in all_jobs) / 1e3 / n

    def outside(c):
        lo, hi = c["start"] / 1e6, c["end"] / 1e6
        covered = interval_union([(j["start_ms"], j["end_ms"]) for j in jobs[c["call"]]
                                  if j["end_ms"]], lo, hi)
        return ((hi - lo) - covered) / 1e3

    m["operators.outside_jobs_s"] = _mean([outside(c) for c in traced])
    m["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in all_jobs) / n
    m["spark.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in all_jobs) / n
    m["spark.spill_bytes"] = sum(j["spill"] for j in all_jobs) / n

    batches = [c for c in traced if c["group"] == "batch"]
    if batches:
        # a late progress report of an untraced batch may reach a listener
        # attached for the next traced call; only traced batches count
        mine = {(c["extra"]["query_id"], c["extra"]["batch_id"]) for c in batches}
        prog = [p for p in tr["progress"] if (p["query_id"], p["batch_id"]) in mine]
        for name, key in STREAMING_KEYS.items():
            m[name] = _mean([p["durations"].get(key, 0) for p in prog])
        m["streaming.overhead_ms"] = m["streaming.trigger_ms"] - m["streaming.add_batch_ms"]
        m["streaming.probe_ms"] = _mean([c["extra"]["probe_ns"] / 1e6 for c in batches])
        m["streaming.append_commit_ms"] = _mean(
            [c["extra"]["append_commit_ns"] / 1e6 for c in batches])
        m["streaming.outside_jobs_s"] = _mean([outside(c) for c in batches])
        f = rec["facts"]
        m["index.files"] = f["index_files"]
        m["index.bytes"] = f["index_bytes"]
        m["index.bytes_per_live_row"] = f["index_bytes"] / f["live_rows"]
        ingested = sum(c["extra"]["rows"] for c in batches)
        m["index.bytes_written_per_row"] = sum(
            j["output_bytes"] for c in batches for j in jobs[c["call"]]) / ingested
        # compactions are few, so traced and untraced ones count here;
        # their wall time and bytes need no listener
        compacts = [c for c in untraced + traced if c["group"] == "compact"]
        if compacts:
            m["index.compact_s"] = _mean([c["seconds"] for c in compacts])
            m["index.compact_bytes_rewritten"] = _mean(
                [c["extra"]["bytes_rewritten"] for c in compacts])

    every = tr["jobs"]
    m["spark.jobs"] = len(every) / n
    m["spark.stages"] = sum(j["stages"] for j in every) / n
    m["spark.tasks"] = sum(j["tasks"] for j in every) / n
    m["spark.task_cpu_s"] = sum(j["cpu_ns"] for j in every) / 1e9 / n
    m["spark.job_s"] = sum(j["end_ms"] - j["start_ms"] for j in every if j["end_ms"]) / 1e3 / n
    m["jvm.gc_s"] = rec["jvm_gc_ms"] / 1e3
    m["jvm.peak_heap_mb"] = rec["jvm_peak_heap_bytes"] / 2 ** 20
    m["trace_overhead"] = trace_overhead(untraced, traced)
    return m


def trace_overhead(untraced, traced):
    """Traced over untraced latency: the geometric mean, over the call
    kinds with both traced and untraced calls, of the ratio of their
    medians. A traced run alternates the two for each kind, so both sides
    see the same stage of the run."""
    def medians(samples):
        by = {}
        for s in samples:
            by.setdefault(s["kind"], []).append(s["seconds"])
        return {k: statistics.median(v) for k, v in by.items()}
    u, t = medians(untraced), medians(traced)
    return geomean([t[k] / u[k] for k in t if k in u and u[k] > 0])
