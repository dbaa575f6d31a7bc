"""CLI surface (cdc_publisher_spark/__main__.py): thin wrappers over
the registry/session/pipeline — each subcommand exercised in-process."""

from __future__ import annotations

import json

import pytest

from cdc_publisher_spark.__main__ import main


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q_d1_pricing_summary" in out
    assert "oracle" in out


def test_cli_run_and_explain(spark, sf_smoke, capsys):
    assert main(["run", "q_d1_pricing_summary", "--sf-dir", sf_smoke]) == 0
    out = capsys.readouterr().out
    assert "sum_qty" in out or "l_returnflag" in out
    assert main(["explain", "q_b1_range_filter", "--sf-dir", sf_smoke]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_cli_oracle_gate(spark, sf_oracle, capsys):
    assert main(["oracle", "q_b1_range_filter", "--sf-dir", sf_oracle]) == 0
    assert "match=True" in capsys.readouterr().out


def test_cli_unknown_query_suggests(spark):
    with pytest.raises(SystemExit):
        main(["run", "q_definitely_not_there"])


def test_cli_serve_once_drains_spool(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        json.dumps(
            {"id": {"k": i}, "type": "insert", "table": "t",
             "data": {"v": i}, "info": {"user": "u", "timestamp": "2024-01-01T00:00:00"}},
            separators=(",", ":"),
        )
        for i in range(5)
    ]
    (src / "a.jsonl").write_text("\n".join(rows))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert main(["serve", "--src", str(src), "--out", out,
                 "--checkpoint", ckpt, "--once"]) == 0
    sunk = spark.read.parquet(out)
    assert sunk.count() == 5
    assert set(sunk.columns) >= {"key", "value", "topic"}


def test_cli_serve_once_publishes_metrics_snapshot(spark, tmp_path, capsys):
    """serve --once ends with one metrics snapshot on stderr — the
    reference's 10 s Kafka metrics reporter (main.clj:45-53), one-shot
    in drain mode."""
    src = tmp_path / "src"
    src.mkdir()
    row = json.dumps(
        {"id": {"k": 1}, "type": "insert", "table": "t",
         "data": {"v": 1}, "info": {"user": "u", "timestamp": "2024-01-01T00:00:00"}},
        separators=(",", ":"),
    )
    (src / "a.jsonl").write_text(row)
    out, ckpt = str(tmp_path / "m_out"), str(tmp_path / "m_ckpt")
    assert main(["serve", "--src", str(src), "--out", out,
                 "--checkpoint", ckpt, "--once"]) == 0
    err = capsys.readouterr().err
    snaps = [json.loads(l[l.index("{"):]) for l in err.splitlines() if "{\"" in l]
    assert snaps, f"no metrics snapshot on stderr: {err!r}"
    assert set(snaps[-1]) == {"latest", "totals", "gauges"}
    # the drain's counters made it into the one-shot snapshot
    latest = snaps[-1]["latest"]
    assert latest, "snapshot published before any progress event landed"
    (m,) = latest.values()
    assert m.get("dequeue_count") == 1


def test_cli_maintain_compacts_dedup_state(spark, tmp_path, capsys):
    """maintain over a dedup state root (the surface that replaced the
    removed `compact` alias, VERDICT r11 ask #3): batch dirs at/below
    the watermark fold into the compact segment with the unified pair
    set unchanged, and all three dedup dirs compact in the same pass."""
    from cdc_publisher_spark.streaming.incremental_dedup import (
        dedup_micro_batch,
        read_dedup_state,
    )
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto

    base = " ".join(f"tok{i}" for i in range(30))
    dirs = [str(tmp_path / d) for d in ("corpus", "idx", "pairs")]
    for b, rows in enumerate([[(1, base), (2, "q " * 25)], [(3, base + " aa")]]):
        dedup_micro_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, *dirs
        )
    before = sorted(
        map(tuple, read_dedup_state(spark, dirs[2]).collect())
    )
    assert main([
        "maintain", "--state-root", str(tmp_path), "--upto-batch", "1",
        "--vacuum",
    ]) == 0
    out = capsys.readouterr().out
    # the three dedup dirs discovered; the guard keeps no other state
    assert out.count("compact\t") == 3, out
    assert "id_bloom" not in out
    assert all(compacted_upto(spark, d) == 1 for d in dirs)
    assert all(k > 1 for k, _ in batch_dirs(spark, dirs[2]))
    after = sorted(map(tuple, read_dedup_state(spark, dirs[2]).collect()))
    assert after == before
    assert read_dedup_state(spark, dirs[0]).count() == 3


def test_cli_maintain_compacts_hll_state(spark, tmp_path, capsys):
    """maintain over an HLL state dir (replaced the `compact-hll`
    alias): register deltas fold into a pre-merged segment and the
    estimates survive the compaction."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.streaming.hll_monitor import (
        hll_micro_batch,
        read_hll_registers,
    )

    rows = spark.createDataFrame(
        [("srcA", f"v{i}") for i in range(40)] + [("srcB", f"w{i}") for i in range(25)],
        "source string, s string",
    )
    state = str(tmp_path / "hll")
    for b in range(2):
        hll_micro_batch(rows.filter(F.crc32("s") % 2 == b), b, state)
    before = sorted((r.source, r.bucket, r.M) for r in read_hll_registers(spark, state).collect())
    # a negative vacuum margin is refused before anything is folded
    with pytest.raises(SystemExit) as e:
        main(["maintain", "--state-root", state, "--vacuum", "--grace", "-1"])
    assert e.value.code == 2
    assert main(["maintain", "--state-root", state, "--upto-batch", "1"]) == 0
    out = capsys.readouterr().out
    assert out.count("compact\thll\t") == 1, out
    after = sorted((r.source, r.bucket, r.M) for r in read_hll_registers(spark, state).collect())
    assert after == before


def test_cli_compact_aliases_removed():
    """The deprecated compact* aliases (kept one round per VERDICT r10
    ask #5) are gone: argparse rejects them."""
    import pytest

    for legacy in ("compact", "compact-hll", "compact-cm", "compact-exposure"):
        with pytest.raises(SystemExit) as e:
            main([legacy, "--help"])
        assert e.value.code == 2


def test_cli_maintain_covers_all_four_layouts(spark, tmp_path, capsys):
    """maintain subcommand (VERDICT r8 ask #6): ONE pass over a state
    root discovers every batch-addressed dir — the dedup trio, HLL
    registers, count-min cells, exposure gram counts, first-seen
    vocabulary — classifies each by its declared _layout. marker,
    compacts with the layout's own merge, and vacuums.
    --dry-run prints the identical plan and writes nothing; a re-run
    is an idempotent all-skip."""
    from pyspark.sql import functions as F

    from cdc_publisher_spark.streaming.cm_monitor import cm_micro_batch, read_cm_cells
    from cdc_publisher_spark.streaming.exposure_monitor import (
        exposure_micro_batch,
        read_exposure_report,
    )
    from cdc_publisher_spark.streaming.hll_monitor import (
        hll_micro_batch,
        read_hll_registers,
    )
    from cdc_publisher_spark.streaming.incremental_dedup import (
        dedup_micro_batch,
        read_dedup_state,
    )
    from cdc_publisher_spark.streaming.state import batch_dirs, compacted_upto
    from cdc_publisher_spark.streaming.vocab_monitor import (
        read_first_seen,
        vocab_micro_batch,
    )

    root = tmp_path / "state"
    ddirs = [str(root / "dedup" / d) for d in ("corpus", "idx", "pairs")]
    base = " ".join(f"tok{i}" for i in range(30))
    for b, rows in enumerate([[(1, base), (2, "q " * 25)], [(3, base + " aa")]]):
        dedup_micro_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, *ddirs
        )
    vals = spark.createDataFrame(
        [("srcA", f"v{i}") for i in range(30)] + [("srcB", f"w{i}") for i in range(20)],
        "source string, s string",
    )
    hll, cm, exp, voc = (str(root / d) for d in ("hll", "cm", "exposure", "vocab"))
    docs = spark.createDataFrame(
        [(i, f"d{i} " * 8, f"src{i % 2}") for i in range(6)],
        "doc_id long, text string, source string",
    )
    for b in range(2):
        half = F.crc32("s") % 2 == b
        hll_micro_batch(vals.filter(half), b, hll)
        cm_micro_batch(vals.filter(half), b, cm, value_col="s", group_cols=["source"])
        exposure_micro_batch(docs.filter(F.col("doc_id") % 2 == b), b, exp)
        vocab_micro_batch(docs.filter(F.col("doc_id") % 2 == b), b, voc)

    all_dirs = ddirs + [hll, cm, exp, voc]
    before = {
        "pairs": sorted(map(tuple, read_dedup_state(spark, ddirs[2]).collect())),
        "corpus_ids": sorted(
            r.doc_id for r in read_dedup_state(spark, ddirs[0]).select("doc_id").collect()
        ),
        "hll": sorted(
            (r.source, r.bucket, r.M) for r in read_hll_registers(spark, hll).collect()
        ),
        "cm": sorted(map(tuple, read_cm_cells(spark, cm, ["source"]).collect())),
        "exp": sorted(map(tuple, read_exposure_report(spark, exp).collect())),
        "vocab": sorted(map(tuple, read_first_seen(spark, voc).collect())),
    }

    # dry run: full plan over all seven dirs, zero writes; the default
    # watermark holds back each dir's newest batch as potentially
    # uncommitted (ADVICE r9) — the plan targets 0, not 1
    assert main(["maintain", "--state-root", str(root), "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert out.count("compact\t") == 7, out
    assert "None -> 0" in out and "-> 1" not in out
    assert "held back as uncommitted" in out
    for kind in ("sum", "hll", "min", "rows"):
        assert f"\t{kind}\t" in out, (kind, out)
    assert "dry run" in out
    for d in all_dirs:
        assert compacted_upto(spark, d) is None, d

    # real pass: streams stopped cleanly here, so folding each dir's
    # own max batch is safe and opted into explicitly
    assert main(
        ["maintain", "--state-root", str(root), "--assume-all-committed", "--vacuum"]
    ) == 0
    out = capsys.readouterr().out
    assert out.count("compact\t") == 7 and out.strip().endswith("done")
    for d in all_dirs:
        assert compacted_upto(spark, d) == 1, d
        assert batch_dirs(spark, d) == [], d  # superseded dirs reclaimed
    after = {
        "pairs": sorted(map(tuple, read_dedup_state(spark, ddirs[2]).collect())),
        "corpus_ids": sorted(
            r.doc_id for r in read_dedup_state(spark, ddirs[0]).select("doc_id").collect()
        ),
        "hll": sorted(
            (r.source, r.bucket, r.M) for r in read_hll_registers(spark, hll).collect()
        ),
        "cm": sorted(map(tuple, read_cm_cells(spark, cm, ["source"]).collect())),
        "exp": sorted(map(tuple, read_exposure_report(spark, exp).collect())),
        "vocab": sorted(map(tuple, read_first_seen(spark, voc).collect())),
    }
    assert after == before

    # idempotent: the second pass is an all-skip
    assert main(["maintain", "--state-root", str(root)]) == 0
    out = capsys.readouterr().out
    assert out.count("skip\t") == 7 and "up to date" in out

    # empty root: explicit failure, not a silent success
    assert main(["maintain", "--state-root", str(tmp_path / "nowhere")]) == 1


def test_cli_monitors_composed_job(spark, tmp_path, capsys):
    """monitors subcommand: one parquet document stream fanned to all
    nine consumers, --once drains, --maintain folds with the stream's
    own commits-log watermark (the live-stream contract end-to-end
    through the CLI)."""
    from cdc_publisher_spark.streaming.monitor_suite import SUITE_DIRS, suite_dir
    from cdc_publisher_spark.streaming.state import (
        checkpoint_committed_upto,
        compacted_upto,
    )

    rows = [
        (i, f"alpha beta w{i} w{i % 5} gamma delta eps{i % 3} tok tok2", f"s{i % 2}",
         i % 3, [float(i % 7), 1.0, 0.5])
        for i in range(24)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, source string, label int, "
        "embedding array<double>",
    )
    src = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(src)
    root, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    assert main(
        [
            "monitors", "--src", src, "--state-root", root,
            "--checkpoint", ckpt, "--max-files-per-trigger", "2",
            # exercise the sequential fan-out path end-to-end through
            # the CLI (the default is the concurrent pool; results
            # must be identical either way)
            "--parallelism", "1",
            "--once", "--maintain",
        ]
    ) == 0
    out = capsys.readouterr().out
    assert out.count("compact\t") >= 6, out
    committed = checkpoint_committed_upto(spark, ckpt)
    assert committed is not None and committed >= 1
    for name in SUITE_DIRS:
        assert compacted_upto(spark, suite_dir(root, name)) == committed, name
