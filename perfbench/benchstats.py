"""Arithmetic of the benchmark: medians and quartiles, span self time, and
the reduction of a run's raw record to its end-to-end and per-layer
metrics. Pure Python, tested by test_perfbench.py.
"""
import statistics

# the modules the query surface's spans are named after
MODULES = ["sources", "compile", "series", "text", "agg", "dedup",
           "checkpoint", "ml", "ann", "join", "pack", "diff"]
# ROADMAP target queries, reported one by one
TARGETS = ["q47", "q93", "q84", "q85", "q95", "q15", "q16", "q90", "q40",
           "q64", "q99", "q91"]
# constraint-alone walls, measured on validate_bulk's traced run
PROBES = ["series.turn_rate_stl_s", "series.rolling_z_s", "text.regex_text_s",
          "text.text_equals_s", "compile.unique_key_s", "compile.ri_role_s",
          "compile.ri_tool_s", "agg.distinct_count_s", "agg.quantile_s",
          "compile.floor_s"]


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")


def self_times(spans):
    """Self time of every span, keyed by id: its duration minus the part
    of its interval that its child spans cover (children are clipped to
    the parent and overlapping children count once).
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def layer(name):
    return name.split(".", 1)[0]


def _wall(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def end_to_end(rec):
    """Medians over the run's timed operations (all untraced in a run with
    --trace 0)."""
    ops = [o for o in rec["ops"] if not o["traced"]] or rec["ops"]
    wall = median([o["wall_s"] for o in ops])
    return {
        "setup_s": (median(rec["setup_s"]), "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (rec["input_turns"] / wall, "1/s"),
        "cpu_s": (median([o["cpu_s"] for o in ops]), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "write_amp": (median([o["written_bytes"] for o in ops]) / rec["input_bytes"],
                      "ratio"),
    }


def _op_layers(op, cores, input_bytes):
    """Per-layer figures of one traced operation."""
    tr = op["trace"]
    spans = tr["spans"]
    selfs = self_times(spans)
    m = {}

    def total(pred, key):
        return sum(s["counters"][key] for s in spans if pred(s))

    def is_compile(s):
        return layer(s["name"]) == "compile"

    compile_wall = sum(_wall(s) for s in spans if is_compile(s))
    m["compile.validate_s"] = sum(_wall(s) for s in spans if s["name"] == "compile.validate")
    m["compile.validate_jobs"] = total(lambda s: s["name"] == "compile.validate", "jobs")
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        m[f"compile.{k}"] = total(is_compile, k)
    m["compile.gc_s"] = total(is_compile, "gc_ms") / 1000.0
    m["compile.core_util"] = (total(is_compile, "task_run_ms") / 1000.0 /
                              (compile_wall * cores) if compile_wall else 0.0)
    m["compile.self_s"] = sum(selfs[s["id"]] for s in spans if is_compile(s))

    every = spans + [{"counters": tr["unattributed"]}]
    m["sources.input_rows"] = sum(s["counters"]["input_records"] for s in every)
    m["sources.input_bytes"] = sum(s["counters"]["input_bytes"] for s in every)
    m["sources.scan_tasks"] = sum(s["counters"]["scan_tasks"] for s in every)

    is_ckpt = lambda s: layer(s["name"]) == "checkpoint"
    slices = op.get("slice_wall_s", [])
    legs = sum(_wall(s) for s in spans if is_ckpt(s))
    m["checkpoint.wall_s"] = op["wall_s"] if slices else 0.0
    m["checkpoint.write_amp"] = op["written_bytes"] / input_bytes if slices else 0.0
    m["checkpoint.slices_s"] = sum(slices)
    m["checkpoint.slice_p50_s"] = median(slices) if slices else 0.0
    m["checkpoint.overhead_s"] = legs - sum(slices) if slices else 0.0
    m["checkpoint.bytes_written"] = op["written_bytes"] if slices else 0
    m["checkpoint.files_written"] = op.get("files_written", 0)
    m["checkpoint.jobs_per_slice"] = (total(lambda s: s["name"] in (
        "checkpoint.leg1", "checkpoint.leg2"), "jobs") / len(slices) if slices else 0.0)
    m["checkpoint.self_s"] = sum(selfs[s["id"]] for s in spans if is_ckpt(s))
    m["agg.state_bytes"] = op.get("state_bytes", 0)

    queries = [s for s in spans if s["name"].count(".") == 1
               and s["name"].split(".", 1)[1].startswith("q")]
    for mod in MODULES:
        qs = [s for s in queries if layer(s["name"]) == mod]
        m[f"query.{mod}.wall_s"] = sum(_wall(s) for s in qs)
        m[f"query.{mod}.jobs"] = sum(s["counters"]["jobs"] for s in qs)
    for t in TARGETS:
        qs = [s for s in queries if s["name"].split(".", 1)[1].startswith(t + "_")]
        m[f"query.{t}.wall_s"] = sum(_wall(s) for s in qs)
        m[f"query.{t}.jobs"] = sum(s["counters"]["jobs"] for s in qs)
    return m


UNITS = {"_s": "s", "_jobs": "count", ".jobs": "count", ".stages": "count",
         ".tasks": "count", "_bytes": "bytes", ".core_util": "ratio",
         ".input_rows": "count", ".scan_tasks": "count", ".bytes_written": "bytes",
         ".files_written": "count", ".jobs_per_slice": "count",
         ".write_amp": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    raise KeyError(name)


def per_layer(rec):
    """Medians over the traced operations of a --trace 1 run, the
    constraint-alone probes, and the tracing overhead (traced minus
    untraced operation walls of the same run)."""
    traced = [o for o in rec["ops"] if o["traced"]]
    untraced = [o for o in rec["ops"] if not o["traced"]]
    per_op = [_op_layers(o, rec["cores"], rec["input_bytes"]) for o in traced]
    m = {k: median([p[k] for p in per_op]) for k in per_op[0]}
    # validate_bulk's traced run measures the resumable path once, apart
    res = rec.get("resumable")
    if res:
        r = _op_layers(res["op"], rec["cores"], res["input_bytes"])
        m.update({k: v for k, v in r.items()
                  if k.startswith("checkpoint.") or k == "agg.state_bytes"})
    m["query.p50_s"] = median([c["wall_s"] for o in traced for c in o["calls"]])
    m["sources.generate_s"] = rec["generate_s"]
    for p in PROBES:
        m[p] = rec["probes"].get(p, 0.0)
    tw = median([o["wall_s"] for o in traced])
    uw = median([o["wall_s"] for o in untraced])
    m["trace.traced_wall_s"] = tw
    m["trace.untraced_wall_s"] = uw
    m["trace.overhead_s"] = tw - uw
    return {k: (v, unit(k)) for k, v in m.items()}


def absent(rec):
    """Why some per-layer metrics read 0 on this workload."""
    w = rec["workload"]
    notes = {}
    if w != "validate_bulk":
        notes["constraint-alone walls"] = "measured on validate_bulk only"
    if w == "query_surface":
        notes["checkpoint.*, agg.state_bytes"] = (
            "the resumable path is measured in validate_bulk's traced run")
    if w == "query_surface":
        notes["compile.validate_s, compile.validate_jobs"] = (
            "the queries call the validator internally; only validate_bulk "
            "spans validate() itself")
    if w == "validate_resumable":
        notes["compile.*"] = ("the validator runs inside ResumableValidation.run; "
                              "its jobs count under checkpoint.*")
    if w != "query_surface":
        notes["query.*"] = "only query_surface runs SparkEntry queries"
    else:
        measured = {q.split("_", 1)[0] for q in rec["input"]["order"]}
        missing = [t for t in TARGETS if t not in measured]
        if missing:
            notes["query." + ",".join(missing)] = "not in the measured query subset"
        notes["query.sources,text,agg,checkpoint"] = (
            "no measured query maps to these modules; validate_bulk and "
            "its traced resumable run exercise them")
    return notes


def result(rec, trace):
    ops = rec["ops"] + ([rec["resumable"]["op"]] if rec.get("resumable") else [])
    attempted = sum(o["attempted"] for o in ops)
    failed = sum(o["failed"] for o in ops)
    metrics = per_layer(rec) if trace else end_to_end(rec)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
