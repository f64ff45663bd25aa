"""CLI tests mirroring the reference's cli.rs unit tests
(test_calculate_end_slot cli.rs:90-106, test_validation cli.rs:108-124)
plus an end-to-end offline run."""

from __future__ import annotations

import pytest

from block_data_fetcher_spark.cli import Args, parse_args, run


def _args(**kw) -> Args:
    base = dict(
        start_slot=None, end_slot=None, num_blocks=None, rpc_url=None,
        output="out", batch_size=10, max_retries=3, retry_delay=2,
        continuous=False, interval=10,
    )
    base.update(kw)
    return Args(**base)


def test_calculate_end_slot():
    assert _args(num_blocks=5).calculate_end_slot(100) == 104
    assert _args(end_slot=120).calculate_end_slot(100) == 120
    assert _args().calculate_end_slot(100) == 109  # default 10 blocks


def test_validation():
    with pytest.raises(ValueError, match="Start slot"):
        _args(start_slot=10, end_slot=5).validate()
    with pytest.raises(ValueError, match="Batch size"):
        _args(batch_size=0).validate()
    with pytest.raises(ValueError, match="Max retries"):
        _args(max_retries=0).validate()
    with pytest.raises(ValueError, match="Retry delay"):
        _args(retry_delay=-1).validate()
    with pytest.raises(ValueError, match="Number of blocks"):
        _args(num_blocks=0).validate()
    _args(retry_delay=0, num_blocks=1).validate()  # ok
    _args(start_slot=5, end_slot=10).validate()  # ok


def test_format_number():
    """P9 parity — the reference's cases (src/main.rs:180-185) plus
    the engine-side F.format_number twin."""
    from block_data_fetcher_spark.cli import format_number

    assert format_number(1234) == "1,234"
    assert format_number(1234567) == "1,234,567"
    assert format_number(174283491) == "174,283,491"
    assert format_number(999) == "999"
    assert format_number(0) == "0"


def test_format_number_matches_spark(spark):
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.cli import format_number

    vals = [0, 999, 1234, 1234567, 174283491]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "n long")
        .select(F.format_number("n", 0).alias("s"))
        .collect()
    )
    assert [r.s for r in rows] == [format_number(v) for v in vals]


def test_parse_args_flags():
    a = parse_args(["-s", "100", "-n", "5", "-b", "20", "-o", "/tmp/x"])
    assert (a.start_slot, a.num_blocks, a.batch_size, a.output) == (100, 5, 20, "/tmp/x")
    with pytest.raises(SystemExit):  # -e and -n conflict (reference clap conflicts_with)
        parse_args(["-e", "5", "-n", "2"])


def _expected_report(slots) -> dict:
    """The A1/A3 report of a run over ``slots`` of the offline source,
    counted from the synthetic blocks themselves."""
    import json

    from block_data_fetcher_spark.sources.rpc import synthetic_block

    txs = [json.loads(t) for s in slots for t in json.loads(synthetic_block(s))["transactions"]]
    ok = sum(t["meta"]["err"] is None for t in txs)
    return {
        "blocks_loaded": len(slots),
        "transactions_loaded": len(txs),
        "total_transactions": len(txs),
        "successful_transactions": ok,
        "failed_transactions": len(txs) - ok,
        "total_fees": sum(t["meta"]["fee"] for t in txs),
        "success_rate": round(ok * 100.0 / len(txs), 2),
    }


def test_cli_end_to_end_offline(spark, tmp_path):
    report = run(_args(start_slot=100, num_blocks=5, output=str(tmp_path / "o")))
    assert report == _expected_report(range(100, 105))
    # idempotent re-run (ST6): same counts
    report2 = run(_args(start_slot=100, num_blocks=5, output=str(tmp_path / "o")))
    assert report2 == report
    assert spark.read.parquet(str(tmp_path / "o" / "transactions")).count() == 20


def test_cli_report_is_run_scoped(spark, tmp_path):
    """A run into an existing store reports its own slots, not the
    store: 4 slots after a 40-slot load report 4 blocks."""
    out = str(tmp_path / "o")
    assert run(_args(start_slot=100, num_blocks=40, output=out)) == _expected_report(range(100, 140))
    report = run(_args(start_slot=140, num_blocks=4, output=out))
    assert report == _expected_report(range(140, 144))
    assert report["blocks_loaded"] == 4
    assert spark.read.parquet(f"{out}/blocks").count() == 44


def test_cli_batch_run_job_count(spark, tmp_path):
    """One offline batch run into an empty store runs 5 Spark jobs:
    one fetches and parses each slot into the cache, then two per table
    (the last-wins shuffle and the write), the transactions ones from
    the writer thread in the caller's job group. No job reads the
    store back for the report."""
    sc = spark.sparkContext
    sc.setJobGroup("cli-job-count", "one batch cli.run")
    try:
        run(_args(start_slot=100, num_blocks=40, output=str(tmp_path / "o")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cli-job-count")) == 5
