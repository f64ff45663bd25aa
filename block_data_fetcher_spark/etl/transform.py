"""Classification + labeling + enrichment (reference
``src/etl/transform.rs`` — the pipeline's signature transform).

Spark-first design: the 20-ish-row program registry becomes a literal
``create_map`` (the distributed analog of the reference's in-memory
HashMap, ``transform.rs:20-31``) so every lookup is a map access inside
codegen — zero shuffle, zero join.

The priority rule chain (``transform.rs:82-114``) is an ORDERED
``when()`` chain — order encodes precedence:
DEX > NFT > Token > single-System(SolTransfer) > System-present
(ProgramInteraction) > Unknown.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's registry seed rows (program_id → name, type) —
# migrations/20251023000005_create_program_registry.sql:15-45 — become a
# literal map here.
PROGRAM_REGISTRY_ROWS = [
    # (program_id, program_name, program_type)
    ("11111111111111111111111111111111", "System Program", "System"),
    ("TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA", "Token Program", "Token"),
    ("TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb", "Token-2022 Program", "Token"),
    ("ATokenGPvbdGVxr1b2hvZbsiqW5xWH25efTNsLJA8knL", "Associated Token Account", "Token"),
    ("metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s", "Metaplex Token Metadata", "NFT"),
    ("cndy3Z4yapfJBmL3ShUp5exZKqR3z33thTzeNMm2gRZ", "Candy Machine", "NFT"),
    ("675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8", "Raydium AMM", "DEX"),
    ("JUP6LkbZbjS1jKKwapdHNy74zcZ3tLUZoi5QNyVTaV4", "Jupiter Aggregator", "DEX"),
    ("whirLbMiicVdio4qvUfM5KAg6Ct8VwpYzGff3uctyCc", "Orca Whirlpool", "DEX"),
    ("ComputeBudget111111111111111111111111111111", "Compute Budget", "System"),
    ("KLend2g3cP87fffoy8q1mQqGKjrxjC8boSyAYavgmjD", "Kamino Lending", "DeFi"),
    ("dRiftyHA39MWEi3m9aunc5MzRF1JYuBsbn6VPcn33UH", "Drift Protocol", "DeFi"),
]

# transaction_type labels — reference models.rs:58-68
SOL_TRANSFER = "sol_transfer"
SPL_TOKEN_TRANSFER = "spl_token_transfer"
NFT_MINT = "nft_mint"
NFT_TRANSFER = "nft_transfer"
DEX_SWAP = "dex_swap"
PROGRAM_INTERACTION = "program_interaction"
UNKNOWN = "unknown"


def _literal_map(pairs: dict[str, str]) -> Column:
    # built lazily — Column construction needs an active SparkContext
    return F.create_map(*[F.lit(x) for x in chain.from_iterable(pairs.items())])


def type_map() -> Column:
    return _literal_map({pid: ptype for pid, _, ptype in PROGRAM_REGISTRY_ROWS})


def name_map() -> Column:
    return _literal_map({pid: pname for pid, pname, _ in PROGRAM_REGISTRY_ROWS})


def program_types(program_ids: Column) -> Column:
    """program_id → program_type per element; unknown ids → NULL
    (reference ``get_program_type``, transform.rs:44-49)."""
    m = type_map()
    return F.transform(program_ids, lambda pid: F.element_at(m, pid))


def classify_program_types(program_ids: Column, types: Column) -> Column:
    """The priority rule chain over a tx's (distinct) program ids
    (transform.rs:82-114). Input: array<string> of program ids and their
    already-resolved ``types`` (``program_types(program_ids)``), so a
    caller that projects the types as a column resolves them once, not
    once per rule."""
    has = lambda t: F.array_contains(types, t)  # noqa: E731
    return (
        F.when(has("DEX"), DEX_SWAP)
        .when(has("NFT"), NFT_MINT)
        .when(has("Token"), SPL_TOKEN_TRANSFER)
        .when(
            (F.size(program_ids) == 1) & (F.element_at(types, 1) == "System"),
            SOL_TRANSFER,
        )
        .when(has("System"), PROGRAM_INTERACTION)
        .otherwise(UNKNOWN)
    )


def label_transaction(program_ids: Column, transaction_type: Column) -> Column:
    """Human-readable label `"{type} ({known names, comma-joined})"`
    (transform.rs:160-203) from the tx's program ids and its computed
    ``transaction_type``; unknown ids dropped; bare type when no known
    names."""
    m = name_map()
    names = F.filter(
        F.transform(program_ids, lambda pid: F.element_at(m, pid)),
        lambda n: n.isNotNull(),
    )
    return F.when(
        F.size(names) > 0,
        F.concat(transaction_type, F.lit(" ("), F.concat_ws(", ", names), F.lit(")")),
    ).otherwise(transaction_type)
