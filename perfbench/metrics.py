"""Pure helpers that turn a run's raw records into metrics."""

import math
import statistics


def tail(samples):
    """The highest percentile of the ladder with at least ten samples beyond
    it, by nearest rank. Returns (value, percentile, samples beyond). With
    fewer than 20 samples no rung qualifies, and the maximum is returned with
    0 samples beyond."""
    s = sorted(samples)
    n = len(s)
    for p in (99.9, 99, 95, 90, 75, 50):
        k = max(1, math.ceil(p / 100 * n))
        if n - k >= 10:
            return s[k - 1], p, n - k
    return s[-1], 100, 0


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
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children may overlap each other). Returns
    {span id: seconds}; span times are in milliseconds."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length([(max(s, c["start"]), min(e, c["end"]))
                                for c in children.get(sp["id"], [])
                                if c["end"] > s and c["start"] < e])
        out[sp["id"]] = (e - s - covered) / 1e3
    return out


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def end_to_end(result, setup_gen_s):
    """The end-to-end metrics of one untraced run."""
    lat = [o["latency_s"] for o in result["ops"]]
    tail_v, tail_p, beyond = tail(lat)
    reps = result["setup_reps_s"]
    setup = (setup_gen_s + result["session_s"] + (statistics.median(reps) if reps else 0.0)
             + result["setup_once_s"])
    return {
        "setup_s": (setup, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "disk_mb_retained": (result["disk_mb_retained"], "MB"),
    }, {"op_tail_percentile": tail_p, "op_tail_beyond": beyond, "ops": len(lat)}


STREAM_PHASES = [("addBatch_s", "addBatch"), ("planning_s", "queryPlanning"),
                 ("walCommit_s", "walCommit"), ("trigger_s", "triggerExecution")]


def per_layer(result, modules, untraced_p50):
    """Per-layer metrics of a traced run, each a mean per traced operation
    (module metrics: per operation of that module)."""
    t = result["trace"]
    ops = result["traced_ops"]
    n_ops = max(1, len(ops))
    spans = t["spans"]
    selfs = self_times(spans)
    m = {}

    def span_self(prefix):
        return sum(selfs[sp["id"]] for sp in spans if sp["name"].startswith(prefix))

    def counter(name):
        return sum(c["value"] for c in t["counters"] if c["name"] == name)

    m["GitCli.extract_s"] = span_self("GitCli.") / n_ops
    m["GitParse.parse_s"] = span_self("GitParse.") / n_ops
    m["GitAgg.transform_s"] = (span_self("GitAgg.") + span_self("Validate.")) / n_ops
    for k in ["publish", "compact", "report"]:
        m[f"Pipeline.{k}_s"] = span_self(f"Pipeline.{k}") / n_ops
    for name in ["GitCli.log_mb", "GitCli.git_procs", "GitParse.commits",
                 "GitParse.file_changes", "Validate.rejects", "Pipeline.mb_written",
                 "Pipeline.files_written", "Pipeline.store_files"]:
        m[name] = counter(name) / n_ops
    # Store bytes written per byte of new git log text.
    new_log = counter("Pipeline.new_log_mb")
    m["Pipeline.write_amp"] = counter("Pipeline.mb_written") / new_log if new_log else 0.0

    jobs = t["jobs"]
    schema = [j for j in jobs if "Tables.scala" in j["site"]]
    m["Tables.schema_jobs"] = len(schema) / n_ops
    m["Tables.schema_s"] = sum(j["end"] - j["start"] for j in schema) / 1e3 / n_ops
    nojob = 0.0
    for o in ops:
        inside = [(max(j["start"], o["start"]), min(j["end"], o["end"]))
                  for j in jobs if j["end"] > o["start"] and j["start"] < o["end"]]
        nojob += (o["end"] - o["start"] - union_length(inside)) / 1e3
    m["driver.nojob_s"] = nojob / n_ops
    tasks = t["tasks"]
    m["spark.jobs"] = len(jobs) / n_ops
    for k in ["task_s", "sched_delay_s", "shuffle_mb", "spill_mb"]:
        m[f"spark.{k}"] = sum(x[k] for x in tasks) / n_ops

    qmod = result.get("query_modules", {})
    for mod in modules:
        k = max(1, sum(1 for o in ops if qmod.get(o["name"]) == mod))
        ids = {sp["id"] for sp in spans if sp["name"].startswith(mod + ".")}
        build = {sp["id"] for sp in spans if sp["name"] == f"{mod}.build"}
        m[f"{mod}.build_s"] = span_self(f"{mod}.build") / k
        m[f"{mod}.action_s"] = span_self(f"{mod}.action") / k
        m[f"{mod}.jobs_build"] = sum(1 for j in jobs if j["span"] in build) / k
        m[f"{mod}.task_s"] = sum(x["task_s"] for x in tasks if x["span"] in ids) / k
        m[f"{mod}.shuffle_mb"] = sum(x["shuffle_mb"] for x in tasks if x["span"] in ids) / k

    stream_ops = [o for o in ops if qmod.get(o["name"]) == "StreamGate"]
    k = max(1, len(stream_ops))
    trig = [tr for tr in t["triggers"]
            if any(o["start"] <= tr["start"] <= o["end"] for o in stream_ops)]
    m["StreamGate.triggers"] = len(trig) / k
    for name, key in STREAM_PHASES:
        m[f"StreamGate.{name}"] = sum(tr["durations_s"].get(key, 0.0) for tr in trig) / k
    m["StreamGate.tmp_mb"] = counter("StreamGate.tmp_mb") / k

    traced_lat = [o["latency_s"] for o in ops]
    m["tracing.overhead_s"] = (statistics.median(traced_lat) - untraced_p50) if ops else 0.0
    return m
