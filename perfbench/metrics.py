"""Turns the harness JVM's raw record into the result line.

End-to-end metrics (untraced runs) are the same for every workload, so that
each run reports every one of them; what an "op" is depends on the workload
(a REST request for the serve workloads, one query for batch_pipeline).
The workload-specific end-to-end figures (search/fetch/write/get latency,
recall, ingest, recovery, space, batch wall time) are printed as details.

Per-layer metrics (traced runs) are also reported by every workload: a
layer the workload leaves idle reports 0.
"""
from stats import (durations, gmean, median, metric_deltas, ratio, self_times, tail,
                   tail_mean, union_s)

BATCH_QUERIES = (
    "knn_fetch_join", "ivf_knn_probe", "pq_knn", "graph_knn_routed", "nn_join",
    "embed_neardup", "minhash_pairs", "substr_dedup", "decontam_pairs",
    "bpe_encode_ids", "tfidf_top_terms", "image_features")
TIERS = ("hnsw", "ivf_flat", "ivfpq")
# /v1/metrics counter prefix of each tier's driver-local cell cache
CELL_PREFIX = {"hnsw": "local_serve", "ivf_flat": "ivf_local", "ivfpq": "pq_local"}
SELF_LAYERS = ("op", "rest", "engine", "json", "spark", "query")

END_TO_END = (
    ("setup_s", "s"), ("gmean_ms", "ms"), ("tail_ms", "ms"), ("ops_per_s", "1/s"),
    ("cpu_ms_per_op", "ms"))

PER_LAYER = (
    [("wire.search_ms", "ms"), ("wire.write_ms", "ms"), ("wire.req_bytes", "bytes"),
     ("wire.resp_bytes", "bytes"), ("json.parse_us", "us"), ("json.emit_us", "us"),
     ("engine.search_ms", "ms"), ("engine.search_docs_ms", "ms"), ("engine.fetch_ms", "ms"),
     ("engine.get_ms", "ms"), ("engine.upsert_ms", "ms"), ("engine.delete_ms", "ms"),
     ("engine.search_docs_first_ms", "ms"), ("engine.search_docs_repeat_ms", "ms"),
     ("cache.repeat_share", "ratio"), ("cache.size", "count")]
    + [(f"cells.{t}.{m}", u) for t in TIERS
       for m, u in (("hit_ratio", "ratio"), ("loads_per_search", "count"), ("evictions", "count"))]
    + [("point.opens_per_lookup", "count"), ("point.bloom_prune_ratio", "ratio"),
       ("store.files", "count"), ("store.bytes", "bytes"), ("store.write_amp", "ratio"),
       ("store.load_docs_per_s", "1/s"),
       ("build.hnsw_s", "s"), ("build.ivf_flat_s", "s"), ("build.ivfpq_s", "s"),
       ("build.jobs", "count"),
       ("spark.jobs_per_search", "count"), ("spark.jobs_per_write", "count"),
       ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
       ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.driver_outside_jobs_s", "s")]
    + [(f"batch.{q}.{m}", u) for q in BATCH_QUERIES
       for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"))]
    + [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS]
    + [("jvm.gc_s", "s"), ("trace.overhead_ms", "ms")])


def by_kind(seg):
    """Latency samples (ms) per op kind, over all collections; the raw
    record keys them `<kind>.<collection>`."""
    out = {}
    for k, v in seg["latency_ms"].items():
        out.setdefault(k.split(".", 1)[0], []).extend(v)
    return out


def _percentiles(d, name, xs):
    d[f"{name}_p50_ms"] = (median(xs), "ms")
    p, v = tail(xs)
    d[f"{name}_p{p}_ms"] = (v, "ms")


def serve_details(raw):
    read, mixed = raw["read_timed"], raw["mixed_timed"]
    d = {}
    rk, mk = by_kind(read), by_kind(mixed)
    for kind in ("search", "fetch", "get"):
        if rk.get(kind):
            _percentiles(d, kind, rk[kind])
    if mk.get("write"):
        _percentiles(d, "write", mk["write"])
    if mk.get("search"):
        # searches right behind a burst of single-doc writes
        _percentiles(d, "mixed_search", mk["search"])
    for phase, seg in (("read", read), ("mixed", mixed)):
        for k, xs in sorted(seg["latency_ms"].items()):
            d[f"{phase}.{k}_p50_ms"] = (median(xs), "ms")
    rs = [a + b for a, b in zip(read["recall_sum"], mixed["recall_sum"])]
    rn = [a + b for a, b in zip(read["recall_n"], mixed["recall_n"])]
    d["recall_at_10"] = (ratio(sum(rs), sum(rn)), "ratio")
    for t, s, n in zip(TIERS, rs, rn):
        d[f"recall_at_10.{t}"] = (ratio(s, n), "ratio")
    for phase in ("read", "mixed"):
        d[f"{phase}_ops_run"] = (raw[f"{phase}_ops_run"], "count")
        d[f"{phase}_ops"] = (raw[f"{phase}_ops"], "count")
    d["ingest_s"] = (raw["ingest_s"], "s")
    d["recover_s"] = (raw["recover_s"], "s")
    d["space_amp"] = (raw["space_amp"], "ratio")
    return d


def latency_metrics(ms):
    """Gated latency figures of one run's op latencies (ms).

    The op mix is multimodal (op classes whose latencies differ up to 30x),
    so a pooled median or percentile jumps between classes from run to run
    as the classes shift a little; the gated figures are smooth functions of
    the same samples: the geometric mean and the mean of the slowest 10%.
    The median and the tail percentile are printed beside them."""
    p, v = tail(ms)
    return {"gmean_ms": gmean(ms), "tail_ms": tail_mean(ms),
            "p50_ms": median(ms), f"p{p}_ms": v, "ops": len(ms)}


def serve_end_to_end(raw, setup_s):
    segs = (raw["read_timed"], raw["mixed_timed"])
    all_ms = [x for seg in segs for xs in seg["latency_ms"].values() for x in xs]
    busy = sum(seg["wall_s"] - seg["check_s"] for seg in segs)
    cpu = sum(max(0.0, seg["cpu_s"] - seg["check_s"]) for seg in segs)
    return latency_metrics(all_ms) | {
        "setup_s": setup_s,
        "ops_per_s": len(all_ms) / busy,
        "cpu_ms_per_op": 1000.0 * cpu / len(all_ms),
    }


def batch_end_to_end(raw, setup_s):
    seg = raw["timed"]
    ms = [t for p in seg["passes"] for t in p.values()]
    return latency_metrics(ms) | {
        "setup_s": setup_s,
        "ops_per_s": len(ms) / seg["wall_s"],
        "cpu_ms_per_op": 1000.0 * seg["cpu_s"] / len(ms),
    }


def batch_details(raw):
    passes = raw["timed"]["passes"]
    d = {"batch_s": (median([sum(p.values()) / 1000.0 for p in passes]), "s"),
         "batch_passes": (len(passes), "count"),
         "aux_s": (raw["aux_s"], "s"), "oracle_s": (raw["oracle_s"], "s")}
    for q in BATCH_QUERIES:
        d[f"batch_s.{q}"] = (median([p[q] for p in passes]) / 1000.0, "s")
    return d


def zero_layers():
    return {name: 0.0 for name, _ in PER_LAYER}


def _self(out, spans):
    _, by_layer = self_times(spans)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms"] = by_layer.get(layer, 0.0)


def _spark_sum(segs):
    """Scheduler totals and GC time summed over segments."""
    def tot(k):
        return sum(s["spark"][k] for s in segs)
    return {"spark.stages": tot("stages"), "spark.tasks": tot("tasks"),
            "spark.task_s": tot("task_ms") / 1000.0,
            "spark.shuffle_bytes": tot("shuffle_bytes"), "spark.spill_bytes": tot("spill_bytes"),
            "jvm.gc_s": sum(s["gc_s"] for s in segs)}


def _med(xs):
    xs = list(xs)
    return median(xs) if xs else 0.0


def _sum(segs, key):
    return sum(seg[key] for seg in segs)


def serve_layers(raw):
    segs = (raw["read_traced"], raw["mixed_traced"])
    spans = [s for seg in segs for s in seg["spans"]]
    out = zero_layers()
    rest_search = durations(spans, "rest.search")
    eng_search = durations(spans, "engine.search")
    out["wire.search_ms"] = _med(rest_search[r] - eng_search[r] for r in rest_search if r in eng_search)
    eng_writes = durations_all(spans, "engine.upsert") + durations_all(spans, "engine.delete")
    rest_writes = durations_all(spans, "rest.write")
    if rest_writes and eng_writes:
        out["wire.write_ms"] = median(rest_writes) - median(eng_writes)
    out["wire.req_bytes"] = ratio(_sum(segs, "req_bytes"), _sum(segs, "rest_calls"))
    out["wire.resp_bytes"] = ratio(_sum(segs, "resp_bytes"), _sum(segs, "rest_calls"))
    out["json.parse_us"] = 1000.0 * _med(durations_all(spans, "json.parse"))
    out["json.emit_us"] = 1000.0 * _med(durations_all(spans, "json.emit"))
    first = durations_all(spans, "engine.search_docs_first")
    repeat = durations_all(spans, "engine.search_docs_repeat")
    out["engine.search_ms"] = _med(eng_search.values())
    out["engine.search_docs_ms"] = _med(first + repeat)
    out["engine.search_docs_first_ms"] = _med(first)
    out["engine.search_docs_repeat_ms"] = _med(repeat)
    for k in ("fetch", "get", "upsert", "delete"):
        out[f"engine.{k}_ms"] = _med(durations_all(spans, f"engine.{k}"))
    read = raw["read_traced"]
    out["cache.repeat_share"] = ratio(read["fetch_repeat"], read["fetch_first"] + read["fetch_repeat"])
    out["cache.size"] = read["cache_size"]
    delta = {}
    for seg in segs:
        for k, v in metric_deltas(seg["metrics_before"], seg["metrics_after"]).items():
            delta[k] = delta.get(k, 0) + v
    searches = [a + b for a, b in zip(segs[0]["tier_searches"], segs[1]["tier_searches"])]
    for t, n in zip(TIERS, searches):
        pre = CELL_PREFIX[t]
        hits, misses = delta.get(f"{pre}_hits", 0), delta.get(f"{pre}_misses", 0)
        out[f"cells.{t}.hit_ratio"] = ratio(hits, hits + misses)
        out[f"cells.{t}.loads_per_search"] = ratio(delta.get(f"{pre}_loads", 0), n)
        out[f"cells.{t}.evictions"] = delta.get(f"{pre}_evictions", 0)
    opens, pruned = delta.get("point_run_opens", 0), delta.get("point_runs_bloom_pruned", 0)
    out["point.opens_per_lookup"] = ratio(opens, _sum(segs, "lookups"))
    out["point.bloom_prune_ratio"] = ratio(pruned, opens + pruned)
    out["store.files"] = segs[1]["store_files"]
    out["store.bytes"] = segs[1]["store_bytes"]
    out["store.write_amp"] = ratio(sum(s["store_bytes"] - s["store_bytes_before"] for s in segs),
                                   _sum(segs, "written_user_bytes"))
    out["store.load_docs_per_s"] = ratio(raw["bulk_docs"], raw["bulk_s"])
    for t, s in zip(TIERS, raw["build_s"]):
        out[f"build.{t}_s"] = s
    out["build.jobs"] = raw["build_jobs"]
    out["spark.jobs_per_search"] = _jobs_per(spans, ("rest.search", "engine.search"))
    out["spark.jobs_per_write"] = _jobs_per(spans, ("rest.write", "engine.upsert", "engine.delete"))
    for k, v in _spark_sum(segs).items():
        out[k] = v
    out["spark.driver_outside_jobs_s"] = sum(s["wall_s"] - union_s(s["jobs"]) for s in segs)
    _self(out, spans)
    out["trace.overhead_ms"] = _med(read["overhead_ms"])
    return out


def durations_all(spans, name):
    return [(b - a) / 1e6 for n, a, b, _, _, _ in spans if n == name]


def _jobs_per(spans, names):
    ids = {sid for n, _, _, sid, _, _ in spans if n in names}
    jobs = sum(1 for n, _, _, _, parent, _ in spans if n == "spark.job" and parent in ids)
    return ratio(jobs, len(ids))


def batch_layers(raw):
    seg = raw["traced"]
    out = zero_layers()
    for q in BATCH_QUERIES:
        r = seg["queries"][q]
        out[f"batch.{q}.s"] = r["ms"] / 1000.0
        out[f"batch.{q}.jobs"] = r["spark"]["jobs"]
        out[f"batch.{q}.shuffle_bytes"] = r["spark"]["shuffle_bytes"]
    traced = [seg["queries"][q] for q in BATCH_QUERIES]
    out.update(_spark_sum([{"spark": r["spark"], "gc_s": 0.0} for r in traced]))
    out["jvm.gc_s"] = seg["gc_s"]
    jobs = [(a, b) for n, a, b, _, _, _ in seg["spans"] if n == "spark.job"]
    out["spark.driver_outside_jobs_s"] = sum(r["ms"] for r in traced) / 1000.0 - union_s(jobs)
    _self(out, seg["spans"])
    out["trace.overhead_ms"] = median([r["ms"] - r["untraced_ms"] for r in traced])
    return out


def assemble(workload, raw, gen_s, trace, oracle_result):
    """(result line, details) for one run."""
    attempted = int(raw["attempted"])
    failed = int(raw["failed"])
    setup_s = gen_s + raw["setup_s"]
    if workload == "batch_pipeline":
        e2e = batch_end_to_end(raw, setup_s)
        details = batch_details(raw)
        attempted += len(oracle_result)
        bad = {q: why for q, why in oracle_result.items() if why}
        failed += len(bad)
        for q, why in sorted(bad.items()):
            details[f"oracle_mismatch.{q}"] = (1, "count")
            raw.setdefault("errors", []).append(f"oracle {q}: {why}")
        missing = set(BATCH_QUERIES) - set(oracle_result)
        failed += len(missing)
        attempted += len(missing)
    else:
        e2e = serve_end_to_end(raw, setup_s)
        details = serve_details(raw)
    details["live_heap_mb"] = (raw["live_heap_mb"], "MB")
    details["error_rate"] = (ratio(failed, attempted), "ratio")
    units = dict(END_TO_END)
    for k, v in e2e.items():
        details[k] = (v, units.get(k, "count" if k == "ops" else "ms"))
    if trace:
        layers = batch_layers(raw) if workload == "batch_pipeline" else serve_layers(raw)
        units = dict(PER_LAYER)
        metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k, _ in PER_LAYER}
        for k, m in metrics.items():
            details[k] = (m["value"], m["unit"])
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}
    result = {"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
              "metrics": metrics}
    return result, details
