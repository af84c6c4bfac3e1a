"""Turn one run's event log and span file into the benchmark's metrics.

The benchmark program (perfbench/src) writes one JSON object per line:
  setup   one set-up round: session start, input generation, warm-up
  pass    one pass of the workload's fixed operation sequence, and the
          share of CPU time the hypervisor stole meanwhile
  op      one client operation (kind "write" or "read") and its latency
  count   a number the benchmark measured outside the engine
  input   an input size
  rss     the JVM's peak resident set size
  result  operations attempted and failed
A traced run also writes one span per line: name, start, end, parent,
operation id and the Spark / filesystem numbers attributed to it.
"""
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLE_OPS = ("insert", "delete", "update", "merge", "maintain")
SPAN_SPARK = ("jobs", "plan_s", "task_s", "shuffle_write_mb", "input_mb",
              "spill_mb", "gc_s", "driver_gap_s")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def declared(section):
    """(name, unit) of every metric BENCHMARK.json declares in `section`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[section]]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def percentile(xs, q):
    """The q-th percentile, q a whole number from 1 to 100, interpolated
    linearly between the two nearest samples (numpy's default), so that it
    moves smoothly when two operations of different kinds trade places."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if q < 100 else max(xs)


def _warm(evs, traced):
    """Indices of the warm passes the metrics use: the clean ones (the
    hypervisor stole little CPU time during them) when there are any."""
    passes = [e for e in evs if e["ev"] == "pass" and e["i"] > 0 and e["traced"] == traced]
    clean = [e for e in passes if e["clean"]]
    return {e["i"] for e in (clean or passes)}


def _ops(evs, kind, traced=False):
    warm = _warm(evs, traced)
    return [e["s"] for e in evs if e["ev"] == "op" and e["kind"] == kind
            and e["traced"] == traced and e["pass"] in warm]


def _passes(evs, traced=False):
    warm = _warm(evs, traced)
    return [e["s"] for e in evs if e["ev"] == "pass" and e["i"] in warm and e["traced"] == traced]


def _counts(evs, name, traced):
    """Values of the count `name` from the warm passes."""
    return [e["value"] for e in evs if e["ev"] == "count" and e["name"] == name
            and e["traced"] == traced and e["pass"] > 0]


def write_bytes_per_row(workload, evs):
    warm = _warm(evs, traced=False)
    if workload == "table_lifecycle":
        # growth of the table directory during each pass used, per row the
        # pass changed
        size = {e["pass"]: e["value"] for e in evs if e["ev"] == "count" and e["name"] == "table.bytes"}
        rows = {e["pass"]: e["value"] for e in evs
                if e["ev"] == "count" and e["name"] == "table.rows_changed"}
        return sum(size[i] - size[i - 1] for i in warm) / sum(rows[i] for i in warm)
    sink = [e for e in evs if e["ev"] == "count" and e["pass"] in warm and not e["traced"]]
    return (sum(e["value"] for e in sink if e["name"] == "sink.bytes")
            / sum(e["value"] for e in sink if e["name"] == "sink.rows"))


def end_to_end(workload, evs):
    writes, reads = _ops(evs, "write"), _ops(evs, "read")
    return {
        "setup_s": median([e["s"] for e in evs if e["ev"] == "setup"]),
        "first_pass_s": [e["s"] for e in evs if e["ev"] == "pass" and e["i"] == 0][0],
        "pass_s": median(_passes(evs)),
        "commit_p50_s": percentile(writes, 50),
        "commit_p90_s": percentile(writes, 90),
        "read_p50_s": percentile(reads, 50),
        "read_p90_s": percentile(reads, 90),
        # one closed-loop client: operations per second it spends in them
        "ops_per_s": (len(writes) + len(reads)) / (sum(writes) + sum(reads)),
        "write_bytes_per_row": write_bytes_per_row(workload, evs),
        "peak_rss_mb": [e["mb"] for e in evs if e["ev"] == "rss"][-1],
    }


def per_layer(workload, evs, spans):
    by_name = {}
    for s in spans:
        s["wall_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
        by_name.setdefault(s["name"], []).append(s)

    def wall(name):
        return median([s["wall_s"] for s in by_name.get(name, [])])

    def attr(name, key, agg=mean):
        return agg([s.get(key, 0.0) for s in by_name.get(name, [])])

    def counted(name, agg=mean):
        return agg(_counts(evs, name, traced=True))

    m = {}
    csv = by_name.get("ingest.csv", [])
    m["ingest.csv_read_s"] = wall("ingest.csv")
    m["ingest.csv_files_read_frac"] = (
        mean([s["files_read"] / s["files_listed"] for s in csv if s.get("files_listed")]))
    m["ingest.jdbc_read_s"] = wall("ingest.jdbc")
    m["ingest.jdbc_rows"] = attr("ingest.jdbc", "rows")
    m["ingest.http_read_s"] = wall("ingest.http")
    m["etl.products_write_s"] = wall("etl.products_write")
    m["etl.clients_write_s"] = wall("etl.clients_write")

    sink_spans = {"etl_reference": ("etl.products_write", "etl.clients_write"),
                  "curation_dedup": ("curation.job",)}.get(workload, ())
    passes = by_name.get("pass", [])
    m["sink.bytes_written"] = counted("sink.bytes", median)
    m["sink.write_s"] = median([
        sum(s["wall_s"] for s in spans if s["name"] in sink_spans
            and p["start_ns"] <= s["start_ns"] and s["end_ns"] <= p["end_ns"])
        for p in passes]) if sink_spans else 0.0

    for op in TABLE_OPS:
        name = f"table.{op}"
        m[f"table.{op}_s"] = wall(name)
        m[f"table.{op}.jobs_per_commit"] = attr(name, "jobs")
        m[f"table.{op}.plan_s_per_commit"] = attr(name, "plan_s")
        m[f"table.{op}.driver_gap_s_per_commit"] = attr(name, "driver_gap_s")
        m[f"table.{op}.fs_read_ops_per_commit"] = attr(name, "fs_read_ops")
        m[f"table.{op}.fs_write_ops_per_commit"] = attr(name, "fs_write_ops")
    m["table.files_added_per_commit"] = counted("table.files_added")
    m["table.files_removed_per_commit"] = counted("table.files_removed")
    m["table.live_files"] = counted("table.live_files", lambda xs: xs[-1] if xs else 0.0)
    m["table.live_dv_files"] = counted("table.live_dv_files", lambda xs: xs[-1] if xs else 0.0)

    m["scan.point_read_s"] = wall("scan.point_read")
    m["scan.agg_read_s"] = wall("scan.agg_read")
    m["scan.time_travel_s"] = wall("scan.time_travel")
    live = _counts(evs, "scan.live_files", traced=True)
    point = by_name.get("scan.point_read", [])
    m["scan.files_read_frac"] = mean([s.get("scan_files", 0.0) / l for s, l in zip(point, live) if l])

    m["stream.drain_s"] = wall("stream.drain")
    m["stream.versions_drained"] = counted("stream.versions_drained")
    m["stream.feed_rows"] = counted("stream.feed_rows")

    m["curation.job_s"] = wall("curation.job")
    m["dedup.candidates_s"] = wall("dedup.candidates")
    pairs = counted("dedup.candidate_pairs")
    m["dedup.candidate_pairs"] = pairs
    m["dedup.candidate_precision"] = counted("dedup.planted_pairs_found") / pairs if pairs else 0.0
    m["dedup.clusters_s"] = wall("dedup.clusters")
    m["dedup.cluster_jobs"] = attr("dedup.clusters", "jobs")

    # the span whose time is pass_s
    pass_span = "etl.start" if workload == "etl_reference" else "pass"
    m["plans.kernel_nodes"] = attr(pass_span, "kernel_nodes", median)
    for k in SPAN_SPARK:
        m[f"spark.{k}"] = attr(pass_span, k, median)

    traced_writes = _ops(evs, "write", traced=True)
    m["trace.pass_s_overhead"] = median(_passes(evs, traced=True)) - median(_passes(evs))
    m["trace.commit_p50_s_overhead"] = (
        percentile(traced_writes, 50) - percentile(_ops(evs, "write"), 50))
    return m


def describe(evs):
    """Human-readable lines: input sizes and sample counts."""
    out = []
    seen = {}
    for e in evs:
        if e["ev"] == "input":
            seen[e["name"]] = (e["value"], e["unit"])
    out.append("inputs: " + ", ".join(f"{k}={v:g} {u}" for k, (v, u) in seen.items()))
    for traced in (False, True):
        passes = _passes(evs, traced)
        if not passes:
            continue
        label = "traced" if traced else "untraced"
        steal = [e["steal"] for e in evs if e["ev"] == "pass" and e["i"] > 0 and e["traced"] == traced]
        out.append(f"{label}: {len(passes)} warm passes used (steal "
                   + ", ".join(f"{x:.1%}" for x in steal) + "), "
                   f"{len(_ops(evs, 'write', traced))} write ops, "
                   f"{len(_ops(evs, 'read', traced))} read ops; "
                   f"{len([e for e in evs if e['ev'] == 'setup'])} set-up rounds")
    return out
