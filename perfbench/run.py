"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload curate_default --seed 1 --seconds 20 --trace 0

Run from the repository root. The runner generates the workload's
seeded inputs (outside every timing), starts a Spark session, then
runs the workload in a closed loop — one driver process,
``local[<cores>]``, the next iteration starting when the previous one
has committed — until ``--seconds`` have passed and at least
``MIN_ITERATIONS`` have run. ``docs_per_s`` is the loop's throughput:
input docs ÷ wall time over all its iterations. The first iteration
is a fresh process's first curate call, which pays JIT warm-up, code
generation and Python worker start (what every ``run_job.py curate``
pays); the iterations after it run warm. Every iteration's committed
output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload with Spark's event log on and spans around the layer calls,
and prints the per-layer metrics instead. No end-to-end number comes
from a traced run. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (see perfbench/README.md for why each exists):
``curate_default`` and ``curate_para`` are listed in BENCHMARK.json;
``curate_dedup`` and ``stream_drops`` are run by hand, because one run
of either takes longer than the benchmark's per-run budget.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the program under test; outside a checkout this import fails and the
# runner exits non-zero before printing any result
import scripts_spark  # noqa: E402,F401

import check  # noqa: E402
import inputs  # noqa: E402
import spans as tr  # noqa: E402
from harness import (  # noqa: E402
    ROOT, curate_config, end_descendants, stop_spark, timed_start,
)

WORKLOADS = ("curate_default", "curate_para", "curate_dedup", "stream_drops")
LAYERS = [
    "pipeline.deduped_docs",
    "pipeline.boilerplate_sets",
    "text_kernel.scrub_all",
    "scoring_udf.with_scores",
    "html_extract.html_to_text",
    "pipeline.para_dedup",
    "catalog.commit_buckets",
]
# only curate_dedup (run by hand) reaches these
NEAR_DUP_LAYERS = ["pipeline.near_dup_losers", "dedup.connected_components"]
# The cold first iteration alone is a noisy measure: how much JIT work
# lands in it rather than in the next one varies from run to run. A
# warm second iteration steadied the loop's throughput in most measured
# sets, though not under heavy host contention (see README.md).
MIN_ITERATIONS = 2


def batch_inputs(workload: str, seed: int, work: str):
    """Write the input parquet; return (input path, input row count,
    oracle decisions by url, description)."""
    from dataclasses import fields

    from scripts_spark.oracle.pipeline_oracle import OracleConfig, curate_rows

    if workload == "curate_default":
        rows = inputs.base_rows(inputs.DEFAULT_PAGES, seed)
        meta = {"pages": len(rows)}
    else:
        rows, meta = inputs.dedup_rows(inputs.PLANTED_PAGES, seed,
                                       near=workload == "curate_dedup")
    src = os.path.join(work, "input")
    os.makedirs(src)
    inputs.write_pages(rows, os.path.join(src, "pages.parquet"))
    cfg = curate_config(workload)
    ocfg = OracleConfig(**{
        f.name: getattr(cfg, f.name) for f in fields(OracleConfig)
    })
    if cfg.text_from_html:
        rows = [dict(r, text=inputs.html_to_text_py(r["html"])) for r in rows]
    return src, len(rows), curate_rows(rows, ocfg), meta


def curate_once(spark, cfg, src: str, out: str) -> float:
    """One closed-loop iteration: input parquet → committed buckets."""
    from scripts_spark.plans.pipeline import curate, drain_curate_persisted
    from scripts_spark.sources import catalog

    t = time.perf_counter()
    catalog.commit_buckets(curate(spark.read.parquet(src), cfg), out)
    drain_curate_persisted()
    return time.perf_counter() - t


def closed_loop(spark, cfg, src: str, work: str, seconds: float, checked):
    """Curate iterations until ``seconds`` have passed and at least
    ``MIN_ITERATIONS`` have run, each output checked. Returns the
    iteration walls and the last iteration's output directory (the
    earlier ones are removed)."""
    walls: list[float] = []
    out = None
    t_loop = time.perf_counter()
    while len(walls) < MIN_ITERATIONS or time.perf_counter() - t_loop < seconds:
        if out is not None:
            shutil.rmtree(out)
        out = os.path.join(work, f"out-{len(walls)}")
        walls.append(curate_once(spark, cfg, src, out))
        checked(out)
    print(f"iterations={len(walls)} walls_s={[round(w, 3) for w in walls]}",
          flush=True)
    return walls, out


def run_batch(args, work: str) -> dict:
    cfg = curate_config(args.workload)
    src, n_in, oracle, meta = batch_inputs(args.workload, args.seed, work)
    print(f"input {json.dumps(meta)} rows={n_in}", flush=True)
    extra = tr.event_log_config(os.path.join(work, "eventlog")) if args.trace else None

    spark, setup_s = timed_start(work, extra)

    result = {"attempted": 0, "failed": 0, "correct": True}

    def checked(out: str) -> list[dict]:
        rows = check.committed_rows(out)
        c = check.check_batch(rows, oracle)
        result["attempted"] += c["attempted"]
        result["failed"] += c["failed"]
        result["correct"] &= c["correct"]
        print(f"check {out}: failed={c['failed']}/{c['attempted']} "
              f"f1={c['f1']:.4f}", flush=True)
        return rows

    try:
        if args.trace:
            state = traced_batch(spark, cfg, src, work, checked, n_in,
                                 args.seconds)
        else:
            walls, out = closed_loop(spark, cfg, src, work, args.seconds, checked)
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (n_in * len(walls) / sum(walls), "1/s"),
                "out_bytes_per_doc": (check.committed_bytes(out) / n_in, "B"),
            }
    finally:
        stop_spark(spark)
    if args.trace:
        layers = LAYERS + (NEAR_DUP_LAYERS if cfg.near_dedup else [])
        metrics = tr.layer_metrics(os.path.join(work, "eventlog"),
                                   state["tracer"], state["counts"], layers)
    return {**result, "metrics": metrics}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def cc_probe(tracer, counts: dict) -> None:
    """While open, ``dedup.connected_components`` first materializes
    its input pairs in the caller's span (the pair plan — signatures,
    LSH, verify — is lazy, and CC's first checkpoint would otherwise
    run it inside CC's span), then runs CC in its own span, counting
    label-propagation rounds (one ``count()`` each) and output rows."""
    from scripts_spark.operators import dedup

    cc = dedup.connected_components

    def probe(pairs, *args, **kwargs):
        pairs = pairs.localCheckpoint(eager=True)
        cls = type(pairs)
        count = cls.count
        rounds = 0

        def counting(self):
            nonlocal rounds
            rounds += 1
            return count(self)

        cls.count = counting
        try:
            with tracer.span("dedup.connected_components"):
                out = cc(pairs, *args, **kwargs)
        finally:
            cls.count = count
        with tracer.untraced():
            counts["dedup.connected_components.rows_out"] = out.count()
        counts["dedup.connected_components.rounds"] += rounds
        return out

    dedup.connected_components = probe
    try:
        yield
    finally:
        dedup.connected_components = cc


def layer_pass(spark, tracer, cfg, src: str, committed: str, work: str,
               counts: dict) -> None:
    """Time each lazy layer on its own: call the layer's function on
    the materialized output of the layer before it and force the
    result through the ``noop`` sink inside the layer's span. Counts
    taken outside the spans go into ``counts``."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from scripts_spark.functions import html_extract, scoring_udf, text_kernel
    from scripts_spark.plans import pipeline as P
    from scripts_spark.sources import catalog

    cached = []

    def run(name, build):
        # the noop write inside the span also fills the cache, which
        # the next layer and the row count outside the span read
        with tracer.span(name):
            df = build().persist()
            _noop(df)
        cached.append(df)
        with tracer.untraced():
            counts[f"{name}.rows_out"] = df.count()
        return df

    pages = spark.read.parquet(src)
    if cfg.text_from_html:
        pages = run(
            "html_extract.html_to_text",
            lambda: pages.withColumn(
                "text", html_extract.html_to_text(F.col("html"), from_binary=True)
            ),
        )
    docs_cfg = replace(cfg, text_from_html=False)
    docs = run("pipeline.deduped_docs", lambda: P.deduped_docs(pages, docs_cfg))
    boiler = run("pipeline.boilerplate_sets", lambda: P.boilerplate_sets(docs, cfg))
    with tracer.untraced():
        # exact boilerplate lines ÷ lines passing the hash-side count
        cand = (
            docs.select("domain", F.explode(F.array_distinct("paras")).alias("p"))
            .groupBy(F.xxhash64("domain", "p")).count()
            .filter(F.col("count") > cfg.boiler_min_docs)
            .count()
        )
        exact = boiler.select(F.sum(F.size("boiler_set"))).first()[0] or 0
        counts["pipeline.boilerplate_sets.candidate_precision"] = (
            exact / cand if cand else 1.0
        )
        # the post-boiler frame, as curate() builds it
        d = (
            docs.join(F.broadcast(boiler), "domain", "left")
            .withColumn("paras_total", F.size("paras"))
            .withColumn("kept_paras", P.boiler_kept_col())
            .withColumn("paras_boiler", F.col("paras_total") - F.size("kept_paras"))
            .drop("boiler_set", "paras")
            .persist()
        )
        d.count()
        cached.append(d)
    if cfg.para_dedup:
        d = run("pipeline.para_dedup", lambda: P._corpus_para_dedup(d, cfg))
    if cfg.near_dedup:
        run("pipeline.near_dup_losers", lambda: P._near_dup_losers(d, cfg))
    scrubbed = run(
        "text_kernel.scrub_all",
        lambda: d.withColumn(
            "scrubbed_text", text_kernel.scrub_all(F.array_join("kept_paras", "\n"))
        ).drop("kept_paras"),
    )
    with tracer.untraced():
        counts["scoring_udf.arrow_in_mb"] = (
            scrubbed.select(F.sum(F.octet_length("scrubbed_text"))).first()[0] or 0
        ) / 1e6
    run("scoring_udf.with_scores", lambda: scoring_udf.with_scores(scrubbed))
    # the commit on materialized decisions: the rows the traced
    # iteration committed, read back
    dec = catalog.read_output(spark, committed).drop("job_id")
    with tracer.span("catalog.commit_buckets"):
        stats = catalog.commit_buckets(dec, os.path.join(work, "layer-out"))
    counts["catalog.commit_buckets.rows_out"] = stats["rows"]
    for df in cached:
        df.unpersist()


def traced_batch(spark, cfg, src, work, checked, n_in: int,
                 seconds: float) -> dict:
    """Traced run: the untraced run's closed loop with spans on the
    eager seams (its last committed rows give the reason counts), then
    the layer pass. Returns the tracer and the counts taken along the way;
    spans.layer_metrics adds the event-log numbers."""
    from scripts_spark.operators import dedup
    from scripts_spark.sources import catalog

    # the end-to-end pass records its spans under its own run id, so
    # they stay out of the layer pass's numbers
    e2e = tr.Tracer(spark.sparkContext)
    with e2e.wrapped(catalog, "commit_buckets", "catalog.commit_buckets"), \
            e2e.wrapped(dedup, "connected_components", "dedup.connected_components"):
        walls, out = closed_loop(spark, cfg, src, work, seconds, checked)
    check.print_reasons(check.committed_rows(out))
    counts: dict[str, float] = {
        # the spans' own bookkeeping only; the event log's cost shows
        # in traced_docs_per_s against an untraced run (compare.py)
        "trace.overhead_frac": e2e.overhead_s / sum(walls),
        "trace.traced_docs_per_s": n_in * len(walls) / sum(walls),
    }
    if cfg.near_dedup:
        counts["dedup.connected_components.rounds"] = 0
    tracer = tr.Tracer(spark.sparkContext)
    with cc_probe(tracer, counts):
        layer_pass(spark, tracer, cfg, src, out, work, counts)
    return {"tracer": tracer, "counts": counts}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--save", default=None,
                   help="append {workload, seed, trace, result} as one JSON "
                        "line to this file (input for perfbench/compare.py)")
    args = p.parse_args(argv)
    # a terminated run unwinds like an interrupted one, through the
    # cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    base = os.path.join(ROOT, ".perfbench_work")
    if os.path.isdir(base):
        # work left behind by a run that was killed (its pid is gone)
        for d in os.listdir(base):
            pid = d.rsplit("-", 1)[-1]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.workload == "stream_drops":
            import stream

            result = stream.run_stream(args, work)
        else:
            result = run_batch(args, work)
    finally:
        end_descendants()
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    fail_frac = result["failed"] / result["attempted"]
    print(f"fail_frac {fail_frac} ({result['failed']}/{result['attempted']})")
    line = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }
    if args.save:
        with open(args.save, "a", encoding="utf-8") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, "result": line}) + "\n")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
