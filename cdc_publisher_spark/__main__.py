"""Command-line entry point: ``python -m cdc_publisher_spark <cmd>``.

The reference ships as a runnable service (`-main` starts the CDC
dataflow, /root/reference/src/cdc_publisher/main.clj:40-62); this CLI
is the engine's equivalent surface, thin wrappers over the library:

  list                      registered queries (name, family, oracle?)
  run NAME [--sf-dir D]     execute one query, print rows (capped)
  explain NAME [--sf-dir D] formatted physical plan
  oracle NAME [--sf-dir D]  Spark-vs-DuckDB compare (the t2 gate, one query)
  serve --src DIR --out DIR --checkpoint DIR [--once]
                            run the CDC file->parquet pipeline (the
                            reference's publish loop; --once drains
                            available input then exits, otherwise runs
                            until interrupted; metrics snapshots print
                            to stderr every --metrics-period seconds,
                            the reference's 10 s reporter cadence)
  monitors --src D --state-root D --checkpoint C [--once [--maintain]]
                            composed nine-monitor job: one parquet
                            document stream fanned to dedup + HLL +
                            count-min + exposure + drift + vocabulary
                            + ctx economics + the audio-dup guard +
                            the embedding near-dup monitor under one
                            foreachBatch and one state root
                            (streaming/monitor_suite.py); --once drains
                            then exits, --maintain adds one commits-
                            log-watermarked maintenance pass
  maintain --state-root D [--upto-batch N | --checkpoint C |
           --assume-all-committed] [--vacuum [--grace N]] [--dry-run]
                            one scheduled-job maintenance pass: discover
                            every batch-addressed state dir under the
                            root (dedup corpus/index/pairs, HLL,
                            count-min, exposure, centroid-drift,
                            vocabulary — recognized by each dir's
                            _layout. marker) and compact each with its
                            declared merge operator. Committed batches
                            only: the default holds back each dir's
                            newest batch as potentially uncommitted;
                            --checkpoint derives the exact watermark
                            from a stream checkpoint's commits/ log;
                            --assume-all-committed folds everything
                            (cleanly-stopped streams only). --dry-run
                            prints the plan and writes nothing
                            (streaming/maintenance.py)

Everything routes through the same registry / session / pipeline code
the tests and the driver use — the CLI adds no second code path.
"""

from __future__ import annotations

import argparse
import os
import sys


def _session():
    from cdc_publisher_spark.session import get_session

    spark = get_session(app_name="cdc_publisher_spark_cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_list(args) -> int:
    import cdc_publisher_spark.queries  # noqa: F401  (populate registry)
    from cdc_publisher_spark.registry import all_specs

    for name, spec in sorted(all_specs().items()):
        kind = "oracle" if spec.oracle else "rows-only"
        bench = " bench" if spec.bench else ""
        print(f"{name}\t{spec.family}\t{kind}{bench}")
    return 0


def _spec(name: str):
    import cdc_publisher_spark.queries  # noqa: F401
    from cdc_publisher_spark.registry import all_specs

    specs = all_specs()
    if name not in specs:
        matches = sorted(n for n in specs if name in n)
        if len(matches) == 1:
            return specs[matches[0]]
        hint = f"; close: {', '.join(matches[:5])}" if matches else ""
        raise SystemExit(f"unknown query {name!r}{hint}")
    return specs[name]


def cmd_run(args) -> int:
    spec = _spec(args.name)
    df = spec.spark(_session(), args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_explain(args) -> int:
    spec = _spec(args.name)
    spec.spark(_session(), args.sf_dir).explain("formatted")
    return 0


def cmd_oracle(args) -> int:
    from cdc_publisher_spark.oracle import run_compare

    spec = _spec(args.name)
    res = run_compare(_session(), args.sf_dir, spec.name)
    print(
        f"{res.name}: match={res.match} spark_rows={res.spark_rows} "
        f"oracle_rows={res.oracle_rows}{' ' + res.detail if res.detail else ''}"
    )
    return 0 if res.match else 1


def cmd_serve(args) -> int:
    from cdc_publisher_spark.sources.files import read_dml_stream
    from cdc_publisher_spark.streaming.metrics import (
        CdcMetricsListener,
        MetricsReporter,
    )
    from cdc_publisher_spark.streaming.pipeline import run_file_to_parquet

    spark = _session()
    listener = CdcMetricsListener()
    spark.streams.addListener(listener)
    stream = read_dml_stream(spark, args.src, args.max_files_per_trigger)
    q = run_file_to_parquet(stream, args.out, args.checkpoint)
    # the reference publishes its metrics registry every 10 s
    # (main.clj:45-53); here the sink is stderr JSONL (swap for a
    # Kafka producer send where a broker exists)
    reporter = MetricsReporter(
        listener,
        lambda line: print(line, file=sys.stderr),
        period_s=args.metrics_period,
    )
    if not args.once:
        reporter.start()
    try:
        if args.once:
            q.processAllAvailable()
            # listener events arrive on the async listener bus; give the
            # FINAL batch's progress callback a moment to land so the
            # one-shot snapshot carries the drain's counters — non-empty
            # isn't enough for a multi-batch drain (an earlier batch's
            # event would satisfy it while the last batch is in flight),
            # so wait until the listener has caught up to lastProgress's
            # batchId. Only when a batch actually ran (lastProgress set
            # synchronously by the execution thread; an empty drain has
            # none and would otherwise stall the full deadline).
            import time as _time

            def _drained() -> bool:
                last = q.lastProgress
                if last is None:
                    return True
                want = last["batchId"]
                return any(
                    m.get("batch_id") == want for m in list(listener.latest.values())
                )

            deadline = _time.monotonic() + 5.0
            while not _drained() and _time.monotonic() < deadline:
                _time.sleep(0.05)
            q.stop()
            reporter.publish_once()
            return 0
        q.awaitTermination()
    except KeyboardInterrupt:
        q.stop()
    finally:
        reporter.stop()
        # detach before the gateway tears down, or the listener-bus
        # callback thread logs py4j noise at JVM shutdown
        spark.streams.removeListener(listener)
    return 0


def cmd_monitors(args) -> int:
    """The serve-style composed monitor job: one parquet document
    stream fanned to all nine state consumers
    (streaming/monitor_suite.py). ``--once`` drains available input
    then exits; ``--maintain`` runs one maintenance pass after the
    drain with the watermark taken from this stream's own commits log
    (the live-stream contract) — the long-running deployment schedules
    ``maintain --state-root S --checkpoint C`` out of band instead."""
    from cdc_publisher_spark.streaming.maintenance import run_maintenance
    from cdc_publisher_spark.streaming.monitor_suite import stream_monitor_suite

    spark = _session()
    schema = spark.read.parquet(args.src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(args.max_files_per_trigger))
        .parquet(args.src)
    )
    q = stream_monitor_suite(
        stream,
        args.state_root,
        args.checkpoint,
        **({"parallelism": args.parallelism} if args.parallelism is not None else {}),
    )
    try:
        if args.once:
            q.processAllAvailable()
            q.stop()
            if args.maintain:
                plans = run_maintenance(
                    spark,
                    args.state_root,
                    checkpoint_dir=args.checkpoint,
                    vacuum=True,
                    grace_batches=1,
                )
                for p in plans:
                    print(f"{p.action}\t{p.kind}\t{p.path}")
            return 0
        q.awaitTermination()
    except KeyboardInterrupt:
        q.stop()
    return 0


def cmd_maintain(args) -> int:
    from cdc_publisher_spark.streaming.maintenance import run_maintenance

    spark = _session()
    plans = run_maintenance(
        spark,
        args.state_root,
        upto_batch=args.upto_batch,
        checkpoint_dir=args.checkpoint,
        assume_all_committed=args.assume_all_committed,
        vacuum=args.vacuum,
        grace_batches=args.grace,
        dry_run=args.dry_run,
    )
    if not plans:
        print(f"no batch-addressed state dirs under {args.state_root}")
        return 1
    mode = "plan (dry run)" if args.dry_run else "done"
    for p in plans:
        arrow = (
            f"{p.current_upto} -> {p.target_upto}"
            if p.target_upto is not None
            else f"{p.current_upto} (up to date)"
        )
        note = f"\t[{p.note}]" if p.note else ""
        print(
            f"{p.action}\t{p.kind}\t{p.path}\twatermark {arrow}\t"
            f"live={p.live_batches} superseded={p.superseded}{note}"
        )
    print(mode)
    return 0


def _non_negative_int(text: str) -> int:
    n = int(text)
    if n < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m cdc_publisher_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list").set_defaults(fn=cmd_list)

    # Data dir resolves from the environment, not a baked-in path, so
    # the CLI works on any machine: CDC_SF_DIR > SPARK_GRAFT_SF_DIR >
    # the sandbox default (documented in --help).
    default_sf = os.environ.get(
        "CDC_SF_DIR",
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    for cmd, fn in (("run", cmd_run), ("explain", cmd_explain), ("oracle", cmd_oracle)):
        sp = sub.add_parser(cmd)
        sp.add_argument("name")
        sp.add_argument(
            "--sf-dir",
            default=default_sf,
            help=f"parquet table dir (env CDC_SF_DIR/SPARK_GRAFT_SF_DIR; default {default_sf})",
        )
        if cmd == "run":
            sp.add_argument("--limit", type=int, default=20)
        sp.set_defaults(fn=fn)

    sp = sub.add_parser("serve")
    sp.add_argument("--src", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--max-files-per-trigger", type=int, default=None)
    sp.add_argument("--once", action="store_true")
    sp.add_argument(
        "--metrics-period",
        type=float,
        default=10.0,
        help="seconds between metrics snapshots on stderr (reference: 10)",
    )
    sp.set_defaults(fn=cmd_serve)

    sp = sub.add_parser(
        "monitors",
        help="composed nine-monitor job over a parquet document stream "
        "(dedup, HLL, count-min, exposure, drift, vocabulary, ctx, "
        "audio-dup guard, embedding near-dup — one foreachBatch, one "
        "state root; streaming/monitor_suite.py)",
    )
    sp.add_argument("--src", required=True, help="parquet dir to stream")
    sp.add_argument("--state-root", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--max-files-per-trigger", type=int, default=2)
    sp.add_argument("--once", action="store_true")
    sp.add_argument(
        "--maintain",
        action="store_true",
        help="with --once: one maintenance pass after the drain, "
        "watermark from this stream's commits log, vacuum grace 1",
    )
    sp.add_argument(
        "--parallelism",
        type=int,
        default=None,
        help="concurrent consumer chains per trigger (default "
        "SUITE_PARALLELISM=6; 1 = strictly sequential fan-out)",
    )
    sp.set_defaults(fn=cmd_monitors)

    sp = sub.add_parser(
        "maintain",
        help="one maintenance pass over every batch-addressed state dir "
        "under a root: marker-declared per-layout compaction, optional "
        "vacuum, --dry-run plan (streaming/maintenance.py)",
    )
    sp.add_argument("--state-root", required=True)
    sp.add_argument(
        "--upto-batch",
        type=int,
        default=None,
        help="explicit committed watermark applied to every dir (capped at "
        "each dir's own max batch id); default: each dir's own max MINUS "
        "ONE — the newest on-disk batch is held back as potentially "
        "uncommitted after a crash",
    )
    sp.add_argument(
        "--checkpoint",
        default=None,
        help="stream checkpoint dir: derive the committed watermark from "
        "its commits/ log (the exact answer when the state dirs belong to "
        "one stream)",
    )
    sp.add_argument(
        "--assume-all-committed",
        action="store_true",
        help="fold each dir to its own max batch id — only for streams "
        "known to have stopped CLEANLY; after a crash the newest dir may "
        "be uncommitted and folding it corrupts merge-style state",
    )
    sp.add_argument(
        "--vacuum",
        action="store_true",
        help="also delete superseded per-batch dirs (opt-in; see "
        "streaming/state.py vacuum_state)",
    )
    sp.add_argument(
        "--grace",
        type=_non_negative_int,
        default=0,
        help="with --vacuum: keep the newest N superseded batch dirs for "
        "unsynchronized external readers",
    )
    sp.add_argument(
        "--dry-run",
        action="store_true",
        help="print the per-dir plan (layout, watermark move, dir counts) "
        "and write nothing",
    )
    sp.set_defaults(fn=cmd_maintain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
