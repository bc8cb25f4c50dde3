"""The benchmark's workloads, each an untraced and a traced variant.

A workload function takes a ``Run`` (the live session, its work dir, the
seed, the window length) and fills ``run.metrics`` and ``run.info``; every
unit of work it attempts counts in ``run.attempted`` and every unit that
raised or whose output failed its check counts in ``run.failed``.
"""

from __future__ import annotations

import glob
import itertools
import os
import queue
import random
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import gen, oracle
from perfbench.metrics import tail_percentile
from perfbench.trace import SparkCounters, Tracer

#: candy input size: ~15k line items over 30 daily files
CANDY_TX = 5_000
#: fewest warm jobs a candy_etl window times, however long they take
WARM_JOBS = 3
#: day files drained through the streaming allocator in the traced run
STREAM_DAYS = 3
#: star-schema scale factor for query_mix (lineitem ~60k rows)
STAR_SF = 0.01
#: documents for the corpus stages in query_mix's traced run
CORPUS_DOCS = 2_000
CLIENTS = 4

#: registry queries with DuckDB oracle SQL and no Python UDF
QUERY_MIX = (
    "pricing_summary order_totals region_revenue shipping_priority local_trade_share "
    "order_priority_check returned_item_losses exclusive_return_suppliers "
    "disjunctive_revenue grouping_sets cube_qty window_running_sum daily_summary "
    "nation_revenue_share lateral_top_nations important_part_value dominant_suppliers "
    "bilateral_trade_volume prefix_allocation latest_per_key rfm_segments "
    "histogram_prices stats_moments"
).split()


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def sc(self):
        return self.spark.sparkContext

    def record(self, what: str, error: str | None = None) -> None:
        """Count one attempted unit of work; ``error`` marks it failed."""
        with self._lock:
            self.attempted += 1
            if error is not None:
                self.failed += 1
                self.errors.append(f"{what}: {error}"[:2000])

    def fail(self, what: str, error: str) -> None:
        """Mark an already counted unit failed (its output check failed)."""
        with self._lock:
            self.failed += 1
            self.errors.append(f"{what}: {error}"[:2000])


# --------------------------------------------------------------------------- candy


def _candy_job(spark, data: str, out: str) -> None:
    """The CLI's batch job (``python -m candyspark`` minus its session stop)."""
    from candyspark.forecast import forecast_sales_and_profits
    from candyspark.pipeline import run_pipeline, save_outputs
    from candyspark.sources.sinks import save_single_csv

    outputs = run_pipeline(spark, data)
    save_outputs(outputs, out)
    forecast = forecast_sales_and_profits(outputs.daily_summary, horizon=1, method="auto")
    save_single_csv(forecast, out, "sales_profit_forecast.csv")


def _candy_inputs(run: Run) -> tuple[str, dict]:
    data = os.path.join(run.work, "candy")
    run.info["inputs"] = gen.gen_candy(data, run.seed, n_tx=CANDY_TX)
    want = oracle.candy_expected(data)
    run.info["fulfilled_share"] = want["fulfilled_lines"] / want["requested_lines"]
    return data, want


def _timed_job(run: Run, data: str, out: str) -> float | None:
    """Run one job; return its wall time, or None when it failed. The output
    check happens later, outside any timed window."""
    t = time.perf_counter()
    try:
        _candy_job(run.spark, data, out)
    except Exception:
        run.record(out, traceback.format_exc())
        return None
    wall = time.perf_counter() - t
    run.record(out)
    return wall


def _check_jobs(run: Run, outs: list[str], want: dict) -> None:
    for out in outs:
        errs = oracle.check_candy_outputs(out, want)
        if errs:
            run.fail(out, "; ".join(errs))


def candy_etl(run: Run) -> None:
    data, want = _candy_inputs(run)
    outs = [os.path.join(run.work, "out0")]
    cold = _timed_job(run, data, outs[0])
    samples = []
    t0 = time.perf_counter()
    # a median over 2 jobs is their mean and carries the first warm job's JIT
    # lag, so the window always holds at least WARM_JOBS jobs
    while len(outs) <= WARM_JOBS or time.perf_counter() - t0 < run.seconds:
        outs.append(os.path.join(run.work, f"out{len(outs)}"))
        wall = _timed_job(run, data, outs[-1])
        if wall is not None:
            samples.append(wall)
    window = time.perf_counter() - t0
    ok_outs = [o for o in outs if os.path.exists(os.path.join(o, "sales_profit_forecast.csv"))]
    _check_jobs(run, ok_outs, want)
    if cold is None or not samples:
        raise RuntimeError("candy_etl: no successful job to time")
    run.metrics.update(cold_s=cold, p50_s=statistics.median(samples), units_per_s=len(samples) / window)
    run.info["job_s"] = samples


def candy_etl_traced(run: Run) -> None:
    from pyspark.sql import functions as F

    from candyspark.forecast import forecast_sales_and_profits
    from candyspark.pipeline import (
        CandyOutputs,
        allocate_inventory,
        build_final_outputs,
        load_inputs,
        prepare_line_items,
        save_outputs,
    )
    from candyspark.sources.sinks import save_single_csv

    data, want = _candy_inputs(run)
    tr, sc, spark = run.tracer, run.sc, run.spark
    outs = [os.path.join(run.work, f"out{i}") for i in range(3)]
    _timed_job(run, data, outs[0])  # cold: JIT and caches warm up

    with tr.span("job", sc) as whole:  # the CLI's job as-is, counted whole
        _timed_job(run, data, outs[1])

    run.record("traced_job")  # raises abort the traced run
    with tr.span("traced_job", sc) as traced:
        with tr.span("readers.load_inputs", sc):
            _customers, products, transactions = load_inputs(spark, data)
            products = products.localCheckpoint()
            transactions = transactions.localCheckpoint()
        with tr.span("pipeline.prepare_line_items", sc) as sp:
            line_items = prepare_line_items(transactions).localCheckpoint()
        sp.attrs["rows_out"] = line_items.count()
        with tr.span("allocation.allocate_inventory", sc) as sp:
            allocated = allocate_inventory(line_items, products).localCheckpoint()
        row = allocated.agg(F.count("*"), F.sum((F.col("fulfilled_qty") > 0).cast("int"))).first()
        sp.attrs.update(rows_out=row[0], fulfilled_share=row[1] / max(row[0], 1))
        with tr.span("pipeline.build_final_outputs", sc):
            o = build_final_outputs(allocated, line_items, products)
            outputs = CandyOutputs(*(df.localCheckpoint() for df in (
                o.orders, o.order_line_items, o.products_updated, o.daily_summary)))
        with tr.span("sinks.save_outputs", sc) as sp:
            save_outputs(outputs, outs[2])
        sp.attrs["output_bytes"] = gen.dir_files(outs[2], "*.csv")[1]
        with tr.span("forecast.forecast_sales_and_profits", sc):
            forecast = forecast_sales_and_profits(outputs.daily_summary, horizon=1, method="auto")
            save_single_csv(forecast, outs[2], "sales_profit_forecast.csv")
    _check_jobs(run, outs, want)

    stream = _candy_stream(run, data)

    jobs, stages = SparkCounters(sc).fetch()

    def tot(sp):
        return SparkCounters.totals(jobs, stages, {s.group for s in tr.descendants(sp)})

    m = run.metrics
    for sp in (s for s in tr.spans if s.parent_id == traced.span_id):
        c = tot(sp)
        m[f"{sp.name}.s"] = sp.s
        for key in ("tasks", "jobs", "busy_s", "shuffle_bytes", "input_bytes"):
            m[f"{sp.name}.{key}"] = c[key]
        m.update({f"{sp.name}.{k}": v for k, v in sp.attrs.items()})
    whole_c = tot(whole)
    input_bytes = gen.dir_files(data)[1]
    _job_totals(m, whole_c, whole.s, run.cores)
    m["job.scan_amplification"] = whole_c["input_bytes"] / input_bytes
    m.update({"trace.untraced_s": whole.s, "trace.traced_s": traced.s,
              "trace.overhead_s": traced.s - whole.s})
    if stream is not None:
        sp, progress = stream
        m["stream.busy_s"] = SparkCounters.totals(jobs, stages, {sp.attrs["run_id"]})["busy_s"]
        m["stream.batches"] = len(progress)
        m["stream.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
        m["stream.wal_s"] = sum(p["durationMs"].get("walCommit", 0) for p in progress) / 1e3
        ops = progress[-1]["stateOperators"] if progress else []
        m["stream.state_rows"] = sum(op["numRowsTotal"] for op in ops)
        m["stream.state_bytes"] = sum(op["memoryUsedBytes"] for op in ops)


def _job_totals(m: dict, c: dict, wall: float, cores: int) -> None:
    m.update({
        "job.jobs": c["jobs"], "job.tasks": c["tasks"], "job.failed_tasks": c["failed_tasks"],
        "job.busy_s": c["busy_s"],
        "job.cpu_s": c["cpu_s"], "job.gc_s": c["gc_s"], "job.spill_bytes": c["spill_bytes"],
        "job.core_busy_share": c["busy_s"] / (wall * cores),
    })


def _candy_stream(run: Run, data: str):
    """Drain the first ``STREAM_DAYS`` day files, oldest first, one file per
    micro-batch, through the streaming allocator into a parquet sink; check
    the result against the batch oracle over the same days."""
    from pyspark.sql import functions as F

    from candyspark.pipeline import prepare_line_items
    from candyspark.schemas import PRODUCTS, TRANSACTIONS_RAW
    from candyspark.sources.readers import load_csv
    from candyspark.streaming.stateful import streaming_greedy_allocation

    spark = run.spark
    land = os.path.join(run.work, "landing")
    os.makedirs(land)
    days = sorted(glob.glob(os.path.join(data, "transactions_*.json")))[:STREAM_DAYS]
    for i, path in enumerate(days):  # the file source picks oldest mtime first
        dest = os.path.join(land, os.path.basename(path))
        shutil.copyfile(path, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    products = load_csv(spark, os.path.join(data, "products.csv"), PRODUCTS).select(
        F.col("product_id").cast("long").alias("product_id"),
        F.col("stock").cast("double").alias("stock"),
        F.col("sales_price").alias("unit_price"),
    )
    source = (spark.readStream.schema(TRANSACTIONS_RAW).option("multiLine", True)
              .option("maxFilesPerTrigger", 1).json(land))
    requests = prepare_line_items(source).select(
        "product_id", "order_id", F.col("order_ts").alias("ts"),
        F.col("quantity").cast("double").alias("qty"),
    ).join(F.broadcast(products), "product_id", "left")
    out = os.path.join(run.work, "stream_out")
    try:
        with run.tracer.span("stream.drain") as sp:
            q = (streaming_greedy_allocation(requests).writeStream.format("parquet")
                 .option("path", out).option("checkpointLocation", out + "_ckpt")
                 .outputMode("append").trigger(availableNow=True).start())
            sp.attrs["run_id"] = str(q.runId)
            q.awaitTermination()
        progress = q.recentProgress
        rows = [tuple(r) for r in spark.read.parquet(out)
                .select("order_id", "product_id", "fulfilled_qty", "line_total").collect()]
    except Exception:
        run.record("candy_stream", traceback.format_exc())
        return None
    errs = oracle.check_stream_output(rows, oracle.candy_expected(data, days=STREAM_DAYS))
    run.record("candy_stream", "; ".join(errs) if errs else None)
    return sp, progress


# --------------------------------------------------------------------------- queries


def _star_inputs(run: Run):
    from candyspark.plans import collect_registry

    sf = os.path.join(run.work, "star")
    run.info["inputs"] = gen.gen_star(sf, run.seed, STAR_SF)
    reg = collect_registry()
    specs = {q: reg[q] for q in QUERY_MIX}
    want = oracle.duckdb_digests(sf, {q: s.sql for q, s in specs.items()})
    return sf, specs, want


def _shared_pass(run: Run, queries: list[str], body) -> float:
    """Run ``body(q)`` once per query, ``CLIENTS`` workers sharing one queue;
    a raise counts the query failed. Returns the pass wall time."""
    work: queue.SimpleQueue = queue.SimpleQueue()
    for q in queries:
        work.put(q)

    def worker(_i: int):
        while True:
            try:
                q = work.get_nowait()
            except queue.Empty:
                return
            try:
                body(q)
            except Exception:
                run.record(q, traceback.format_exc())
            else:
                run.record(q)

    return _run_threads(worker, CLIENTS)


def _checked_pass(run: Run, sf: str, specs: dict, want: dict) -> float:
    """Every query once in seeded order, each result collected and compared
    with DuckDB's."""
    order = list(specs)
    random.Random(run.seed).shuffle(order)

    def check(q: str) -> None:
        df = specs[q].fn(run.spark, sf)
        got = oracle.frame_digest(df.columns, df.collect())
        if got != want[q]:
            raise ValueError(f"{got} != duckdb {want[q]}")

    return _shared_pass(run, order, check)


def _run_threads(target, n: int) -> float:
    """Run ``target(i)`` on ``n`` threads; return the wall time until all end."""
    t0 = time.perf_counter()
    threads = [threading.Thread(target=target, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_mix(run: Run) -> None:
    sf, specs, want = _star_inputs(run)
    cold = _checked_pass(run, sf, specs, want)
    # each client cycles through the same seeded shuffle from its own offset,
    # so together the clients cover the whole mix evenly in any window
    order = list(specs)
    random.Random(run.seed).shuffle(order)
    lat: list[float] = []
    t0 = time.perf_counter()

    def client(i: int):
        start = i * len(order) // CLIENTS
        for q in itertools.cycle(order[start:] + order[:start]):
            if time.perf_counter() - t0 >= run.seconds:
                return
            t = time.perf_counter()
            try:
                _noop(specs[q].fn(run.spark, sf))
            except Exception:
                run.record(q, traceback.format_exc())
            else:
                lat.append(time.perf_counter() - t)  # list.append is atomic
                run.record(q)

    window = _run_threads(client, CLIENTS)
    if not lat:
        raise RuntimeError("query_mix: no query completed")
    run.metrics.update(cold_s=cold, p50_s=statistics.median(lat), units_per_s=len(lat) / window)
    run.info.update(queries=len(lat), query_p90_s=tail_percentile(lat, 0.9))


def query_mix_traced(run: Run) -> None:
    sf, specs, want = _star_inputs(run)
    tr, sc = run.tracer, run.sc
    _checked_pass(run, sf, specs, want)  # warm pass

    untraced = _shared_pass(run, list(specs), lambda q: _noop(specs[q].fn(run.spark, sf)))

    def traced_query(q):
        with tr.span("query", sc, query=q):
            with tr.span("plans.build", sc):
                df = specs[q].fn(run.spark, sf)
            with tr.span("plans.optimize", sc):
                df._jdf.queryExecution().executedPlan()
            with tr.span("plans.execute", sc):
                _noop(df)

    traced = _shared_pass(run, list(specs), traced_query)
    _corpus_traced(run, sf)

    jobs, stages = SparkCounters(sc).fetch()
    m = run.metrics
    for name in ("plans.build", "plans.optimize", "plans.execute"):
        sps = tr.by_name(name)
        c = SparkCounters.totals(jobs, stages, {s.group for s in sps})
        m[f"{name}.s"] = sum(s.s for s in sps)
        m[f"{name}.jobs"] = c["jobs"]
        for key in ("tasks", "busy_s", "shuffle_bytes", "wait_s"):
            m[f"{name}.{key}"] = c[key]
    m["plans.execute.core_busy_share"] = m["plans.execute.busy_s"] / (traced * run.cores)
    whole = SparkCounters.totals(
        jobs, stages, {s.group for top in tr.by_name("query") for s in tr.descendants(top)}
    )
    _job_totals(m, whole, traced, run.cores)
    m["job.scan_amplification"] = whole["input_bytes"] / run.info["inputs"]["bytes"]
    m.update({"trace.untraced_s": untraced, "trace.traced_s": traced,
              "trace.overhead_s": traced - untraced})
    for sp in tr.spans:
        if sp.name.split(".")[0] in ("text", "dedup", "components") or sp.name == "sinks.corpus_write":
            c = SparkCounters.totals(jobs, stages, {sp.group})
            m[f"{sp.name}.s"] = sp.s
            for key in ("jobs", "busy_s", "shuffle_bytes"):
                m[f"{sp.name}.{key}"] = c[key]
            m.update({f"{sp.name}.{k}": v for k, v in sp.attrs.items()})


def _corpus_traced(run: Run, sf: str) -> None:
    """The corpus CLI's stages (``--gopher-rules --near-dedup``), called
    through their public functions in the CLI's order over the generated
    documents, with a span each; then count conservation and a DuckDB
    re-computation of the split assignment."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from candyspark.operators import text as X
    from candyspark.operators.components import dedup_clusters
    from candyspark.operators.dedup import minhash_lsh_pairs
    from candyspark.plans.corpus import gopher_passes_expr, gopher_signal_exprs
    from candyspark.sources.readers import fan_out, load_table

    run.info["corpus_inputs"] = gen.gen_documents(sf, run.seed, CORPUS_DOCS)
    tr, sc, spark = run.tracer, run.sc, run.spark
    out = os.path.join(run.work, "corpus_out")
    try:
        with tr.span("text.score_filter", sc) as sp:
            d = fan_out(load_table(spark, sf, "documents"))
            d = d.filter(gopher_passes_expr(*gopher_signal_exprs()))
            scored = d.select(
                "doc_id", "text", "lang", "source",
                X.quality_score("text").alias("quality_score"),
                X.token_count("text").cast("bigint").alias("n_tokens"),
                X.normalized_text("text").alias("norm"),
            ).filter((F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 10))
            bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
                      .cast("bigint") % 100)
            survivors = (
                scored.withColumn("rn", F.row_number().over(Window.partitionBy("norm").orderBy("doc_id")))
                .filter(F.col("rn") == 1)
                .withColumn("split", F.when(bucket < 80, "train").when(bucket < 90, "val")
                            .otherwise("test"))
                .select("doc_id", "text", "lang", "source", "n_tokens", "split")
                .localCheckpoint()
            )
        sp.attrs["rows_out"] = n_survivors = survivors.count()
        with tr.span("dedup.minhash_lsh_pairs", sc) as sp:
            pairs = minhash_lsh_pairs(survivors, "text", "doc_id", num_hashes=32, bands=8,
                                      k=3, threshold=0.5).localCheckpoint()
        sp.attrs["pairs"] = pairs.count()
        with tr.span("components.dedup_clusters", sc):
            clusters = dedup_clusters(pairs).localCheckpoint()
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        n_drop = drop.count()
        with tr.span("sinks.corpus_write", sc) as sp:
            survivors.join(drop, "doc_id", "left_anti").write.mode("overwrite") \
                .partitionBy("split").parquet(out)
        sp.attrs["files"], sp.attrs["output_bytes"] = gen.dir_files(out, "**/*.parquet")
    except Exception:
        run.record("corpus", traceback.format_exc())
        return
    errs = oracle.check_corpus_output(out, n_survivors - n_drop)
    run.record("corpus", "; ".join(errs) if errs else None)


WORKLOADS = {
    "candy_etl": (candy_etl, candy_etl_traced),
    "query_mix": (query_mix, query_mix_traced),
}
