"""Metric names, units and the summary statistics the benchmark reports."""

from __future__ import annotations

import math
import re

#: end-to-end metrics (tracing off) — every workload reports each of them
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "p50_s": "s",
    "units_per_s": "1/s",
}

#: per-layer metrics (traced run) — a layer the workload bypasses reports 0
PER_LAYER = {
    "session.get_spark.s": "s",
    "readers.load_inputs.s": "s",
    "readers.load_inputs.input_bytes": "B",
    "readers.load_inputs.tasks": "count",
    "pipeline.prepare_line_items.s": "s",
    "pipeline.prepare_line_items.rows_out": "count",
    "pipeline.prepare_line_items.shuffle_bytes": "B",
    "pipeline.build_final_outputs.s": "s",
    "pipeline.build_final_outputs.shuffle_bytes": "B",
    "allocation.allocate_inventory.s": "s",
    "allocation.allocate_inventory.busy_s": "s",
    "allocation.allocate_inventory.shuffle_bytes": "B",
    "allocation.allocate_inventory.rows_out": "count",
    "allocation.allocate_inventory.fulfilled_share": "share",
    "sinks.save_outputs.s": "s",
    "sinks.save_outputs.jobs": "count",
    "sinks.save_outputs.tasks": "count",
    "sinks.save_outputs.output_bytes": "B",
    "sinks.corpus_write.s": "s",
    "sinks.corpus_write.files": "count",
    "sinks.corpus_write.output_bytes": "B",
    "forecast.forecast_sales_and_profits.s": "s",
    "forecast.forecast_sales_and_profits.jobs": "count",
    "plans.build.s": "s",
    "plans.build.jobs": "count",
    "plans.optimize.s": "s",
    "plans.execute.s": "s",
    "plans.execute.tasks": "count",
    "plans.execute.busy_s": "s",
    "plans.execute.shuffle_bytes": "B",
    "plans.execute.wait_s": "s",
    "plans.execute.core_busy_share": "share",
    "text.score_filter.s": "s",
    "text.score_filter.rows_out": "count",
    "dedup.minhash_lsh_pairs.s": "s",
    "dedup.minhash_lsh_pairs.busy_s": "s",
    "dedup.minhash_lsh_pairs.shuffle_bytes": "B",
    "dedup.minhash_lsh_pairs.pairs": "count",
    "components.dedup_clusters.s": "s",
    "components.dedup_clusters.jobs": "count",
    "components.dedup_clusters.shuffle_bytes": "B",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.wal_s": "s",
    "stream.state_rows": "count",
    "stream.state_bytes": "B",
    "stream.busy_s": "s",
    "job.jobs": "count",
    "job.tasks": "count",
    "job.busy_s": "s",
    "job.failed_tasks": "count",
    "job.cpu_s": "s",
    "job.gc_s": "s",
    "job.spill_bytes": "B",
    "job.core_busy_share": "share",
    "job.scan_amplification": "count",
    "job.peak_rss_mb": "MB",
    "trace.untraced_s": "s",
    "trace.traced_s": "s",
    "trace.overhead_s": "s",
}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def tail_percentile(xs: list[float], q: float = 0.9, min_beyond: int = 10) -> float | None:
    """The nearest-rank ``q`` quantile of ``xs``, or None unless at least
    ``min_beyond`` samples lie beyond it (so p90 needs 100 samples)."""
    n = len(xs)
    if not n:
        return None
    k = max(0, math.ceil(q * n) - 1)
    if n - (k + 1) < min_beyond:
        return None
    return sorted(xs)[k]
