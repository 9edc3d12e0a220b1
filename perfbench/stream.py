"""The ``stream_drops`` workload: ``streaming.jobs.stream_curate`` in
availableNow catch-up mode over crawl drops landed before it starts,
one drop per trigger, with the settings ``run_job.py stream-curate``
offers: cross-batch url dedup, boilerplate, span and (banded)
signature state, paragraph dedup and near-dedup in neighbor mode.

Not listed in BENCHMARK.json: the first trigger takes about a minute
and every later one 25-35 s on four cores, so one run is far longer
than the benchmark's per-run budget. Run it by hand.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import check
import harness as H
import inputs
import spans as tr

STATE_DIRS = ("boiler", "span", "sig")
SIG_STORE_BUCKETS = 16
STREAM_LAYERS = [
    "streaming.merged_boiler",
    "streaming.span_state",
    "streaming.sig_state_banded",
    "streaming.evidence_writers",
    "catalog.commit_buckets",
]


def _stream_kwargs(work: str) -> dict:
    return dict(
        max_files_per_trigger=1,
        dedup_urls_across_batches=True,
        boiler_state_dir=os.path.join(work, "boiler"),
        span_state_dir=os.path.join(work, "span"),
        sig_state_dir=os.path.join(work, "sig"),
        sig_store_buckets=SIG_STORE_BUCKETS,
    )


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value; with ten samples or fewer, the maximum (reported as
    percentile 100)."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return 100.0, v[-1]
    return 100.0 * (n - 10) / n, v[n - 11]


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(root, f))
            files += 1
    return size, files


def run_stream(args, work: str) -> dict:
    from scripts_spark.plans import quality_checks
    from scripts_spark.sources import catalog
    from scripts_spark.streaming import jobs

    cfg = H.curate_config("stream_drops")
    drops, meta = inputs.stream_drops(args.seed)
    in_dir = os.path.join(work, "input")
    inputs.write_drops(drops, in_dir)
    input_urls = {r["url"] for d in drops for r in d}
    n_in = sum(len(d) for d in drops)
    print(f"input {meta} rows={n_in} distinct_urls={len(input_urls)}", flush=True)
    extra = tr.event_log_config(os.path.join(work, "eventlog")) if args.trace else None

    spark, setup_s = H.timed_start(work, extra)

    out = os.path.join(work, "out")
    tracer = tr.Tracer(spark.sparkContext)
    read_fracs: list[float] = []

    def banded_read_fraction(_, a):
        # bytes of the snapshot buckets this trigger reads ÷ all
        # snapshot bytes (no snapshot yet: nothing to prune)
        state_dir, buckets = a[1], set(a[4])
        through = jobs._compacted_through(state_dir)
        snap = os.path.join(state_dir, f"sigs_banded/through={through}")
        if through < 0 or not os.path.isdir(snap):
            return
        sizes = {
            int(d.split("=", 1)[1]): _dir_size(os.path.join(snap, d))[0]
            for d in os.listdir(snap) if d.startswith("bucket=")
        }
        total = sum(sizes.values())
        if total:
            read_fracs.append(sum(sizes.get(b, 0) for b in buckets) / total)

    seams = [
        (jobs, "_merged_boiler", "streaming.merged_boiler", None),
        (jobs, "_span_state", "streaming.span_state", None),
        (jobs, "_sig_state_banded", "streaming.sig_state_banded",
         banded_read_fraction),
        (jobs, "_write_span_evidence", "streaming.evidence_writers", None),
        (jobs, "_write_sig_evidence", "streaming.evidence_writers", None),
        (catalog, "commit_buckets", "catalog.commit_buckets", None),
    ]
    try:
        with contextlib.ExitStack() as stack:
            if args.trace:
                for owner, attr, name, after in seams:
                    stack.enter_context(tracer.wrapped(owner, attr, name, after))
            t = time.perf_counter()
            q = jobs.stream_curate(
                spark, in_dir, out, os.path.join(work, "checkpoint"), cfg,
                **_stream_kwargs(work),
            )
            q.awaitTermination()
            wall = time.perf_counter() - t
        triggers = [
            p["durationMs"]["triggerExecution"] / 1e3
            for p in q.recentProgress if p["numInputRows"] > 0
        ]
        dec = catalog.read_output(spark, out)
        run_all = quality_checks.run_all(dec)
    finally:
        H.stop_spark(spark)
    rows = check.committed_rows(out)
    c = check.check_stream(rows, input_urls, run_all)
    print(f"check: failed={c['failed']}/{c['attempted']} "
          f"missing={c['missing']} run_all={run_all}", flush=True)
    pct, tail = tail_percentile(triggers)
    print(f"triggers={len(triggers)} trigger_s={[round(x, 3) for x in triggers]}",
          flush=True)
    print(f"trigger_tail_s is p{pct:.1f} of {len(triggers)} triggers", flush=True)
    result = {"attempted": c["attempted"], "failed": c["failed"],
              "correct": c["correct"]}
    if not args.trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (n_in / wall, "1/s"),
            "trigger_p50_s": (statistics.median(triggers), "s"),
            "trigger_tail_s": (tail, "s"),
            "out_bytes_per_doc": (check.committed_bytes(out) / n_in, "B"),
        }
        return result
    size = files = 0
    for d in STATE_DIRS:
        s, f = _dir_size(os.path.join(work, d))
        size += s
        files += f
    counts = {
        "trace.overhead_frac": tracer.overhead_s / wall,
        "trace.traced_docs_per_s": n_in / wall,
        "streaming.state_mb": size / 1e6,
        "streaming.state_files": files,
        "streaming.sig_state_banded.read_fraction": (
            statistics.mean(read_fracs) if read_fracs else 0.0
        ),
    }
    check.print_reasons(rows)
    result["metrics"] = tr.layer_metrics(
        os.path.join(work, "eventlog"), tracer, counts, STREAM_LAYERS
    )
    return result
