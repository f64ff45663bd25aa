"""The reference's own ETL pipeline as catalog queries: RPC source
(hermetic offline mode) → flatten → parse → classify → rollup. The
reference IS this pipeline (``src/pipeline.rs:121-167``); exposing it
through ``queries()`` puts the end-to-end path under the driver's
correctness gate, not just unit tests.

FULL oracles since round 4: the offline generator
(``sources/rpc.py:synthetic_block``) is closed-form in (slot, i), so
the expected output of every stage is a SPEC the DuckDB oracle states
arithmetically — a parser/classifier/flattener bug anywhere breaks a
value hash. Field-level behavior is additionally pinned by
tests/test_etl.py against the reference's own fixture shapes
(FIXTURES.md §B).

Scale: the slot range partitions across executors (the parallel fetch
the reference lists as future work); everything downstream is the
shuffle-free expression chain of :mod:`..etl.extract`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..etl.extract import account_activity, extract_transactions
from ..sources.rpc import SolanaRpcDataSource

_SLOTS = (1000, 1049)  # 50 blocks x 4 txs in offline mode


def _raw_blocks(spark: SparkSession) -> DataFrame:
    spark.dataSource.register(SolanaRpcDataSource)
    return (
        spark.read.format("solana_rpc")
        .option("start_slot", _SLOTS[0])
        .option("end_slot", _SLOTS[1])
        .option("mode", "offline")
        .load()
    )


def q_etl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction: blocks → classified, labeled, parsed
    transactions (reference extract.rs + transform.rs end to end).
    The program-id LIST is emitted CSV-joined: the driver's value
    hasher requires scalar cells, and the catalog surface loses
    nothing (order is preserved; the array form stays available via
    etl.extract.extract_transactions)."""
    from pyspark.sql import functions as F

    out = extract_transactions(_raw_blocks(spark))
    return out.withColumn(
        "program_ids", F.concat_ws(",", F.col("program_ids"))
    )


def q_etl_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounts rollup over the same block range — the table the
    reference declares but never populates (SURVEY §2.4 A4)."""
    return account_activity(_raw_blocks(spark))


# Promoted from rows-only in round 4: the offline generator
# (sources/rpc.py:synthetic_block) is CLOSED-FORM in (slot, i), so the
# expected output of every pipeline stage is derivable arithmetically —
# the oracle below is a SPEC of what extraction must produce, written
# independently of the extraction code (same stance as the media-codec
# oracles). A parser/classifier/flattener bug anywhere in
# etl/extract.py now breaks a value hash instead of only unit tests.
ORACLE: dict[str, str] = {
    "q_etl_extract": """
        WITH g AS (
          SELECT s.s AS slot, i.i AS i, (s.s + i.i) % 3 AS k
          FROM range(1000, 1050) s(s) CROSS JOIN range(4) i(i)
        )
        SELECT 'sig_' || slot || '_' || i AS signature,
               slot AS block_slot,
               CAST(i AS INTEGER) AS transaction_index,
               (slot + i) % 5 <> 0 AS success,
               CAST(5000 AS BIGINT) AS fee,
               CASE k
                 WHEN 0 THEN '11111111111111111111111111111111'
                 WHEN 1 THEN 'TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA'
                 ELSE '675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8'
               END AS program_ids,
               CASE k WHEN 0 THEN 'sol_transfer'
                      WHEN 1 THEN 'spl_token_transfer'
                      ELSE 'dex_swap' END AS transaction_type,
               CASE k WHEN 0 THEN 'sol_transfer (System Program)'
                      WHEN 1 THEN 'spl_token_transfer (Token Program)'
                      ELSE 'dex_swap (Raydium AMM)' END AS transaction_label,
               'Payer' || slot || '_' || i AS signer,
               CAST(2 AS INTEGER) AS num_accounts,
               CAST(1 AS INTEGER) AS num_instructions,
               CASE k WHEN 0 THEN CAST(1000 + slot + i AS BIGINT)
                      WHEN 1 THEN CAST(500 + i AS BIGINT) END AS amount,
               CASE k WHEN 0 THEN 'SOL' WHEN 1 THEN 'Mint1' END AS token,
               CASE k WHEN 0 THEN 'Src' || slot || '_' || i
                      WHEN 1 THEN 'TA' || slot || '_' || i END
                 AS from_address,
               CASE k WHEN 0 THEN 'Dst' || slot || '_' || i
                      WHEN 1 THEN 'TB' || slot || '_' || i END
                 AS to_address
        FROM g
    """,
    "q_etl_accounts": """
        -- accountKeys per tx = [Payer{slot}_{i}, DEX]: every payer is
        -- unique (seen once, always the signer); the DEX program key
        -- appears in all 200 txs, never as signer
        WITH g AS (
          SELECT s.s AS slot, i.i AS i
          FROM range(1000, 1050) s(s) CROSS JOIN range(4) i(i)
        )
        SELECT 'Payer' || slot || '_' || i AS address,
               slot AS first_seen_slot, slot AS last_seen_slot,
               CAST(1 AS BIGINT) AS transaction_count,
               CAST(1 AS BIGINT) AS as_signer_count
        FROM g
        UNION ALL
        SELECT '675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8',
               1000, 1049, CAST(200 AS BIGINT), CAST(0 AS BIGINT)
    """,
}
