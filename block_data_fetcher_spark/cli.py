"""CLI surface mirroring the reference's clap interface
(``src/cli.rs:12-83``): same flags, same validation rules (P13), same
end-slot derivation (P14) — so a user of the reference's binary can
switch invocation-for-invocation.

The run itself is the Spark pipeline: RPC source (offline by default;
pass --rpc-url for a live endpoint) → :func:`.etl.load.load_blocks`,
which writes both tables from one fetch of each slot. ``--continuous``
runs the Structured Streaming job the reference's loop only stubbed
(``src/main.rs:144-147``) and hands each micro-batch to the same
function; both modes read with the same options. Its checkpoint lives
at ``<output>/_checkpoint``, so a restart into the same output resumes
after the last committed micro-batch.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass


@dataclass
class Args:
    start_slot: int | None
    end_slot: int | None
    num_blocks: int | None
    rpc_url: str | None
    output: str
    batch_size: int
    max_retries: int
    retry_delay: int
    continuous: bool
    interval: int

    def validate(self) -> None:
        """Reference ``Cli::validate`` (cli.rs:56-72)."""
        if self.start_slot is not None and self.end_slot is not None:
            if self.start_slot > self.end_slot:
                raise ValueError(
                    f"Start slot ({self.start_slot}) must be less than or "
                    f"equal to end slot ({self.end_slot})"
                )
        if self.batch_size <= 0:
            raise ValueError("Batch size must be greater than 0")
        if self.max_retries <= 0:
            raise ValueError("Max retries must be greater than 0")
        # time.sleep rejects a negative length, which would turn the
        # first transient RPC error into a ValueError instead of a retry
        if self.retry_delay < 0:
            raise ValueError("Retry delay must not be negative")
        # calculate_end_slot would put the end below the start
        if self.num_blocks is not None and self.num_blocks < 1:
            raise ValueError("Number of blocks must be at least 1")

    def calculate_end_slot(self, start_slot: int) -> int:
        """Reference ``Cli::calculate_end_slot`` (cli.rs:75-83)."""
        if self.num_blocks is not None:
            return start_slot + self.num_blocks - 1
        if self.end_slot is not None:
            return self.end_slot
        return start_slot + 9  # default: 10 blocks


def parse_args(argv: list[str] | None = None) -> Args:
    p = argparse.ArgumentParser(
        prog="block-data-fetcher-spark",
        description="Extract, transform, and load Solana block data with Spark",
    )
    p.add_argument("-s", "--start-slot", type=int, default=None, metavar="SLOT")
    group = p.add_mutually_exclusive_group()
    group.add_argument("-e", "--end-slot", type=int, default=None, metavar="SLOT")
    group.add_argument("-n", "--num-blocks", type=int, default=None, metavar="COUNT")
    p.add_argument("-r", "--rpc-url", default=None, metavar="URL")
    p.add_argument("-o", "--output", default="./bdf_output", metavar="DIR")
    p.add_argument("-b", "--batch-size", type=int, default=10, metavar="SIZE")
    p.add_argument("--max-retries", type=int, default=3, metavar="COUNT")
    p.add_argument("--retry-delay", type=int, default=2, metavar="SECONDS")
    p.add_argument("-c", "--continuous", action="store_true")
    p.add_argument("--interval", type=int, default=10, metavar="SECONDS")
    ns = p.parse_args(argv)
    args = Args(
        start_slot=ns.start_slot,
        end_slot=ns.end_slot,
        num_blocks=ns.num_blocks,
        rpc_url=ns.rpc_url,
        output=ns.output,
        batch_size=ns.batch_size,
        max_retries=ns.max_retries,
        retry_delay=ns.retry_delay,
        continuous=ns.continuous,
        interval=ns.interval,
    )
    args.validate()
    return args


def format_number(n: int) -> str:
    """Thousands-separated integer display (P9) — behavioral parity
    with the reference's ``format_number`` (src/main.rs:156-168,
    tested at src/main.rs:180-185). Engine-side, the same formatting
    is one expression: ``F.format_number(col, 0)``."""
    return f"{int(n):,}"


def run(args: Args) -> dict:
    """Execute the pipeline (reference ``Pipeline::run``,
    ``src/pipeline.rs:121-167``): source → :func:`..etl.load.load_blocks`,
    then the A1/A3 stats report.

    The report covers this run only: the blocks and transactions it
    loaded, their successes, failures, fees and success rate, from the
    counters :func:`..etl.load.load_blocks` observes on its writes (a
    re-run of part of a range reports that part, not the whole store).
    Returns the report (``{}`` for ``--continuous``, which runs until
    stopped). A failed run may leave one of the two tables updated (see
    :func:`..etl.load.load_blocks`); running it again converges.

    ``--continuous`` without ``-s`` starts at the finalized head
    (``getSlot`` − ``FINALITY_LAG``) when reading from ``--rpc-url``, as
    the reference's loop intends (``src/main.rs:93-98``), and at slot 0
    offline. A restart into the same output resumes from its checkpoint
    whatever the start."""
    from .etl.load import load_blocks
    from .session import get_spark
    from .sources.rpc import SolanaRpcDataSource, finalized_slot

    spark = get_spark("block-data-fetcher-spark")
    spark.dataSource.register(SolanaRpcDataSource)
    start = args.start_slot
    if start is None:
        start = 0
        if args.continuous and args.rpc_url:
            start = max(0, finalized_slot(args.rpc_url, args.max_retries, args.retry_delay))
    options = {
        "start_slot": start,
        "end_slot": args.calculate_end_slot(start),
        "batch_size": args.batch_size,
        "mode": "rpc" if args.rpc_url else "offline",
        "url": args.rpc_url or "",
        "max_retries": args.max_retries,
        "retry_delay": args.retry_delay,
    }

    if args.continuous:
        # the intent of the reference's stubbed loop, done properly
        q = (
            spark.readStream.format("solana_rpc")
            .options(**options)
            .load()
            .writeStream.foreachBatch(lambda batch, _: load_blocks(batch, args.output))
            .option("checkpointLocation", os.path.join(args.output, "_checkpoint"))
            .start()
        )
        q.awaitTermination()
        return {}

    raw = spark.read.format("solana_rpc").options(**options).load()
    loaded = load_blocks(raw, args.output)
    n_txs, n_ok = loaded["transactions_loaded"], loaded["successful_transactions"]
    report = {
        "blocks_loaded": loaded["blocks_loaded"],
        "transactions_loaded": n_txs,
        "total_transactions": n_txs,
        "successful_transactions": n_ok,
        "failed_transactions": n_txs - n_ok,
        "total_fees": loaded["total_fees"],
        "success_rate": round(n_ok * 100.0 / n_txs, 2) if n_txs else 0.0,
    }
    for k, v in report.items():
        shown = (
            format_number(v)
            if isinstance(v, int) and not isinstance(v, bool)
            else v
        )
        print(f"{k}: {shown}")
    return report


def main() -> int:
    run(parse_args())
    return 0
