"""Per-layer report of a traced perfbench run.

Turns the spans and listener counters a traced harness run wrote into
the per-layer metrics named in BENCHMARK.json: for every span, per call,
its wall time, self time (wall minus the part its child spans cover),
Spark jobs, shuffle bytes written and executor run time; plus the Spark
runtime counters, the set-up split, the wall share no span accounts for
and the tracing overhead (traced vs untraced time per unit of work).
A span that did not run in this workload reads 0.
"""

SPANS = {
    "curation_batch": [
        "sources.wet_decode", "queries.quality_filter", "queries.exact_dedup",
        "queries.minhash_dedup", "queries.semantic_dedup", "queries.chunk_pack",
        "sources.lake_write"],
    "raster_batch": [
        "sources.image_decode", "tensor.gaussian", "tensor.threshold_local",
        "tensor.binary_opening", "plans.label_cc", "tensor.measure", "tensor.affine",
        "sources.tensor_write"],
    "interactive_mix": [
        "queries.olap_request", "queries.ann_probe", "queries.neardup_probe",
        "sources.index_append"],
    "stream_ingest": ["streaming.micro_batch"],
}
SPAN_FIELDS = [("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
               ("shuffle_write_mb", "MB"), ("executor_run_s", "s")]
# counters the harness measures where the work happens (Phase.extra)
EXTRA = {
    "curation_batch": [("sources.wet_decode.mb_per_s", "MB/s"),
                       ("queries.minhash_dedup.candidate_pairs", "count"),
                       ("queries.minhash_dedup.verify_yield", "ratio")],
    "raster_batch": [("tensor.gaussian.shuffle_per_raster_byte", "ratio"),
                     ("tensor.binary_opening.shuffle_per_raster_byte", "ratio")],
    "interactive_mix": [("queries.ann_probe.candidates_scored", "count"),
                        ("queries.ann_probe.recall_at_10", "ratio"),
                        ("queries.neardup_probe.index_bytes_read_frac", "ratio"),
                        ("queries.olap_request.files_read_frac", "ratio")],
    "stream_ingest": [("streaming.micro_batch.state_mb", "MB"),
                      ("streaming.micro_batch.rows_per_s", "1/s"),
                      ("streaming.trigger_lag_s", "s")],
}
RUNTIME = [("spark.dispatch_share", "ratio"), ("spark.scheduler_wait_s", "s"),
           ("spark.gc_s", "s"), ("spark.spill_mb", "MB"), ("spark.task_skew", "ratio")]
SETUP = [("setup.session_s", "s"), ("setup.layout_build_s", "s"),
         ("setup.index_build_s", "s"), ("setup.warmup_s", "s")]
HARNESS = [("harness.loadgen_lag_max_s", "s"), ("harness.tracing_overhead_frac", "ratio"),
           ("harness.unattributed_frac", "ratio")]


def metric_specs(workloads):
    """(name, unit) of every per-layer metric the given workloads produce,
    in BENCHMARK.json order."""
    out = [(f"{s}.{f}", u) for w in workloads for s in SPANS[w] for f, u in SPAN_FIELDS]
    out += RUNTIME + [x for w in workloads for x in EXTRA[w]]
    return out + SETUP + HARNESS


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    tot, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def report(res):
    spans = res["spans"]
    counters = res["layer_counters"]
    ph, base = res["traced"], res["untraced"]
    cores = int(res["context"]["confs"]["spark.master"].strip("local[]"))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_name = {}
    for s in spans:
        own = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
               for c in kids.get(s["id"], [])]
        wall = (s["end"] - s["start"]) / 1e9
        self_s = wall - covered([i for i in own if i[1] > i[0]]) / 1e9
        c = counters.get(str(s["id"]), {})
        if s["name"] == "streaming.micro_batch":
            c = {}
        r = by_name.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                           "jobs": 0.0, "shuffle_write_mb": 0.0,
                                           "executor_run_s": 0.0})
        r["calls"] += 1
        r["wall_s"] += wall
        r["self_s"] += self_s
        for k in ("jobs", "shuffle_write_mb", "executor_run_s"):
            r[k] += c.get(k, 0.0)
    if "streaming" in counters and "streaming.micro_batch" in by_name:
        r = by_name["streaming.micro_batch"]
        for k in ("jobs", "shuffle_write_mb", "executor_run_s"):
            r[k] += counters["streaming"].get(k, 0.0)
    layer = {n: {k: (v / r["calls"] if k != "calls" else v) for k, v in r.items()}
             for n, r in by_name.items()}

    m = {}
    for s in (x for w in SPANS.values() for x in w):
        for f, _ in SPAN_FIELDS:
            m[f"{s}.{f}"] = layer.get(s, {}).get(f, 0.0)
    tot = lambda k: sum(c.get(k, 0.0) for c in counters.values())
    m["spark.dispatch_share"] = 1.0 - tot("executor_run_s") / (ph["wall"] * cores)
    m["spark.scheduler_wait_s"] = tot("scheduler_wait_s")
    m["spark.gc_s"] = tot("gc_s")
    m["spark.spill_mb"] = tot("spill_mb")
    m["spark.task_skew"] = res.get("task_skew", 1.0)
    extra = dict(ph["extra"])
    if "sources.wet_decode" in layer:
        extra["sources.wet_decode.mb_per_s"] = \
            ph["input_bytes"] / 1e6 / layer["sources.wet_decode"]["wall_s"]
    if "raster_bytes" in extra:
        for s in ("tensor.gaussian", "tensor.binary_opening"):
            extra[f"{s}.shuffle_per_raster_byte"] = \
                layer.get(s, {}).get("shuffle_write_mb", 0.0) * 1e6 / extra["raster_bytes"]
    for k, _ in (x for w in EXTRA.values() for x in w):
        m[k] = float(extra.get(k, 0.0))
    st = res["setup"]
    m["setup.session_s"] = st["session_s"]
    m["setup.layout_build_s"] = st["layout_build_s"]
    m["setup.index_build_s"] = st["index_build_s"]
    m["setup.warmup_s"] = st["warmup_s"]
    m["harness.loadgen_lag_max_s"] = float(extra.get("harness.loadgen_lag_max_s", 0.0))
    per_unit = lambda p: p["busy"] / p["work"]
    m["harness.tracing_overhead_frac"] = per_unit(ph) / per_unit(base) - 1.0
    roots = [(s["start"], s["end"]) for s in spans if s["parent"] == 0]
    m["harness.unattributed_frac"] = max(0.0, 1.0 - covered(roots) / 1e9 / ph["wall"])
    return m, {"layers": layer, "traced_wall_s": ph["wall"], "cores": cores}


def format_report(rep):
    yield (f"{'span':34s} {'calls':>5s} {'wall_s':>9s} {'self_s':>9s} {'jobs':>6s} "
           f"{'shufW_MB':>9s} {'exec_s':>8s}   (per call)")
    for name, r in sorted(rep["layers"].items(), key=lambda kv: -kv[1]["self_s"] * kv[1]["calls"]):
        yield (f"{name:34s} {r['calls']:5d} {r['wall_s']:9.4f} {r['self_s']:9.4f} "
               f"{r['jobs']:6.1f} {r['shuffle_write_mb']:9.3f} {r['executor_run_s']:8.3f}")
