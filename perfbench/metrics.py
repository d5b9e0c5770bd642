"""Metric assembly: end-to-end metrics from an untraced run, per-layer
metrics from a traced run, and the workload-specific named figures."""

from __future__ import annotations

import statistics

#: per-layer metric names, in BENCHMARK.json order
PER_LAYER = [
    ("extract.busy_s", "s"), ("extract.python_s", "s"), ("extract.rows_in", "count"),
    ("extract.templates_out", "count"),
    ("normalize.busy_s", "s"), ("normalize.rejects_out", "count"),
    ("graph.plan_build_s", "s"), ("graph.items_out", "count"), ("graph.claims_out", "count"),
    ("store_import.self_s", "s"), ("store_import.p12_skip_ratio", "ratio"),
    ("store_import.repair_attempts", "count"),
    ("cache.merge_s", "s"), ("cache.lookup_s", "s"), ("cache.hit_ratio", "ratio"),
    ("sinks.merge_s", "s"), ("sinks.merge_jobs", "count"), ("sinks.bytes_published", "bytes"),
    ("sinks.buckets_touched_ratio", "ratio"), ("sinks.read_s", "s"), ("sinks.files_scanned", "count"),
    ("versioned.publish_s", "s"), ("versioned.publishes", "count"), ("versioned.epoch_ops", "count"),
    ("versioned.backoff_s", "s"),
    ("sparql.query_s", "s"), ("analytics.stats_s", "s"),
    ("text_dedup.probe_s", "s"), ("text_dedup.merge_s", "s"), ("text_dedup.delete_s", "s"),
    ("curation.increment_jobs", "count"), ("curation.purge_jobs", "count"), ("curation.self_s", "s"),
    ("curation.kept_ratio", "ratio"),
    ("ann.add_s", "s"), ("ann.probe_s", "s"), ("ann.delete_s", "s"), ("ann.probe_jobs", "count"),
    ("ann.probe_shuffle_bytes", "bytes"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"), ("spark.python_eval_s", "s"),
    ("trace.top_span_coverage", "ratio"), ("trace.overhead_ratio", "ratio"), ("trace.spans", "count"),
]


def end_to_end(w, setup_s: float) -> dict:
    out = {
        "setup_s": (setup_s, "s"),
        "work_per_s": (w.work_done / w.step_op_s(), "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def named(w) -> dict:
    """Every timed operation under its descriptive name: the median wall
    and CPU seconds over its samples, and the sample count."""
    out = {}
    for name, vals in w.samples.items():
        base = name[:-2]
        out[f"{base}_s"] = statistics.median(vals)
        out[f"{base}_cpu_s"] = statistics.median(w.cpu[name])
        out[f"{base}_n"] = len(vals)
    return out


def per_layer(w, tracer, events, t_start: float, t_loop: float, span_cost_s: float) -> dict:
    """Per-layer figures from the traced run; ``t_start``-``t_loop`` is
    the timed loop."""
    from spans import coverage, self_times

    spans = [s for s in tracer.spans if s.end is not None]
    selfs = self_times(spans)
    jobs_by_span = events.attribute(spans)
    by_id = {s.id: s for s in spans}

    def dur(s):
        return s.end - s.start

    def pick(layer, *names):
        return [s for s in spans if s.layer == layer and (not names or s.name in names)]

    def mean(values):
        return statistics.fmean(values) if values else 0.0

    def under_request(span_list):
        """The benchmark's spans around a read call and its collect."""
        return [s for s in span_list if s.parent is not None
                and by_id[s.parent].name in ("lookup_s", "sparql_s", "stats_s")]

    def within(span, ids) -> bool:
        """The span or one of its ancestors is in ``ids``."""
        while span is not None:
            if span.id in ids:
                return True
            span = by_id.get(span.parent)
        return False

    def total_jobs(span_list) -> list[int]:
        """Jobs submitted inside any of these spans or their descendants."""
        ids = {s.id for s in span_list}
        return [j for sid, jobs in jobs_by_span.items() if within(by_id.get(sid), ids) for j in jobs]

    c = w.counters
    n_probe = max(c.get("probe.batches", 0), 1)
    vals = {}
    # extract / normalize / graph: noop-sink probes of each batch
    vals["extract.busy_s"] = c.get("extract.busy_s", 0.0) / n_probe
    extract_jobs = [j for j, job in events.jobs.items() if job["description"] == "perfbench:extract"]
    vals["extract.python_s"] = events.job_metrics(extract_jobs)["python_s"] / n_probe
    vals["extract.rows_in"] = c.get("extract.rows_in", 0) / n_probe
    vals["extract.templates_out"] = c.get("extract.templates_out", 0) / n_probe
    vals["normalize.busy_s"] = c.get("normalize.busy_s", 0.0) / n_probe
    vals["normalize.rejects_out"] = c.get("normalize.rejects_out", 0) / n_probe
    vals["graph.plan_build_s"] = c.get("graph.plan_build_s", 0.0) / n_probe
    vals["graph.items_out"] = c.get("graph.items_out", 0) / n_probe
    vals["graph.claims_out"] = c.get("graph.claims_out", 0) / n_probe
    # store_import
    imports = pick("store_import", "import_pages_to_store")
    vals["store_import.self_s"] = mean([selfs[s.id] for s in imports])
    sent = c.get("pages_sent", 0)
    vals["store_import.p12_skip_ratio"] = c.get("pages_skipped", 0) / sent if sent else 0.0
    backoffs = pick("versioned", "race_backoff")
    import_ids = {s.id for s in imports}
    vals["store_import.repair_attempts"] = sum(
        1 for s in backoffs if s.attrs.get("attempt", 0) > 0 and within(s, import_ids))
    # cache
    vals["cache.merge_s"] = mean([dur(s) for s in pick("cache", "merge_write_cache")])
    lookups = under_request(pick("cache", "lookup"))
    vals["cache.lookup_s"] = mean([dur(s) for s in lookups])
    n_lookups = c.get("cache.lookups", 0)
    vals["cache.hit_ratio"] = c.get("cache.hits", 0) / n_lookups if n_lookups else 0.0
    # sinks
    merges = pick("sinks", "_merge_write", "_merge_write_optimistic")
    vals["sinks.merge_s"] = mean([dur(s) for s in merges])
    vals["sinks.merge_jobs"] = len(total_jobs(merges)) / len(merges) if merges else 0.0
    publishes = [s for s in pick("versioned") if s.name in ("publish", "try_publish", "publish_full_optimistic")]
    vals["sinks.bytes_published"] = sum(s.attrs.get("new_bytes", 0) for s in publishes) / max(len(publishes), 1)
    touched = [s.attrs["touched_ratio"] for s in publishes if "touched_ratio" in s.attrs]
    vals["sinks.buckets_touched_ratio"] = mean(touched)
    reads = pick("sinks", "read_snapshot")
    vals["sinks.read_s"] = mean([dur(s) for s in reads])
    vals["sinks.files_scanned"] = mean([s.attrs.get("files", 0) for s in reads])
    # versioned
    vals["versioned.publish_s"] = mean([dur(s) for s in publishes])
    vals["versioned.publishes"] = len(publishes)
    vals["versioned.epoch_ops"] = len(pick("versioned", "epoch_read", "epoch_bump"))
    vals["versioned.backoff_s"] = sum(dur(s) for s in backoffs)
    vals["sparql.query_s"] = mean([dur(s) for s in under_request(pick("sparql"))])
    vals["analytics.stats_s"] = mean([dur(s) for s in under_request(pick("analytics"))])
    # curation stores
    vals["text_dedup.probe_s"] = mean([dur(s) for s in pick("text_dedup", "dedup_index_probe")])
    vals["text_dedup.merge_s"] = mean([dur(s) for s in pick("text_dedup", "dedup_index_merge")])
    vals["text_dedup.delete_s"] = mean([dur(s) for s in pick("text_dedup", "dedup_index_delete")])
    incs = pick("curation", "curate_increment")
    purges = pick("curation", "purge_documents")
    vals["curation.increment_jobs"] = len(total_jobs(incs)) / len(incs) if incs else 0.0
    vals["curation.purge_jobs"] = len(total_jobs(purges)) / len(purges) if purges else 0.0
    vals["curation.self_s"] = mean([selfs[s.id] for s in incs + purges])
    docs = c.get("docs", 0)
    vals["curation.kept_ratio"] = c.get("kept", 0) / docs if docs else 0.0
    # ANN
    vals["ann.add_s"] = mean([dur(s) for s in pick("ann", "ann_index_add_batch")])
    probes = [s for s in pick("ann", "ann_index_probe") if by_id[s.parent].layer == "op"]
    vals["ann.probe_s"] = mean([dur(s) for s in probes])
    vals["ann.delete_s"] = mean([dur(s) for s in pick("ann", "ann_index_delete")])
    probe_jobs = total_jobs(probes)
    vals["ann.probe_jobs"] = len(probe_jobs) / len(probes) if probes else 0.0
    vals["ann.probe_shuffle_bytes"] = (
        events.job_metrics(probe_jobs)["shuffle_bytes"] / len(probes) if probes else 0.0)
    # Spark totals per step: the jobs of the step's timed operations only,
    # not those of the noop probes, the checks or the benchmark's reports
    step_ops = [s for s in spans if s.parent is None and s.layer == "op" and s.name in w.STEP_OPS]
    m = events.job_metrics(total_jobs(step_ops))
    n_steps = max(w.steps, 1)
    vals["spark.jobs"] = m["jobs"] / n_steps
    vals["spark.tasks"] = m["tasks"] / n_steps
    vals["spark.shuffle_bytes"] = m["shuffle_bytes"] / n_steps
    vals["spark.spill_bytes"] = m["spill_bytes"] / n_steps
    vals["spark.gc_s"] = m["gc_s"] / n_steps
    vals["spark.python_eval_s"] = m["python_s"] / n_steps
    # the trace itself: coverage of the timed loop by top-level spans, and
    # the overhead as spans recorded x the measured cost of one wrapped
    # call, as a share of the traced time
    vals["trace.top_span_coverage"] = coverage(spans, t_start, t_loop)
    traced_s = sum(dur(s) for s in spans if s.parent is None)
    vals["trace.overhead_ratio"] = len(spans) * span_cost_s / max(traced_s, 1e-9)
    vals["trace.spans"] = len(spans)
    units = dict(PER_LAYER)
    return {k: {"value": float(vals[k]), "unit": units[k]} for k, _ in PER_LAYER}

