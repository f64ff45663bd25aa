"""Seeded Solana chain generator and the ledger the benchmark checks
the engine's tables against.

A chain is a contiguous slot range. Each slot is either skipped (the
mock RPC answers ``null``) or a `getBlock`-shaped JSON block of
``txs_per_block`` transactions in the flat shape the engine's source
parses (``signatures``, ``message``, ``meta`` per transaction). The
transaction mix covers every outcome of the classifier's precedence
chain, in ``transfer`` and ``transferChecked`` shapes, with object and
bare-string ``accountKeys``, and with parsed (``programId``) and
compiled (``programIdIndex``) instructions.

The ledger is computed here from the generated instructions with an
independent pure-Python copy of the engine's rules, never from the
engine itself.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

SYSTEM = "11111111111111111111111111111111"
TOKEN = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
TOKEN_2022 = "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb"
ATA = "ATokenGPvbdGVxr1b2hvZbsiqW5xWH25efTNsLJA8knL"
METAPLEX = "metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s"
RAYDIUM = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"
JUPITER = "JUP6LkbZbjS1jKKwapdHNy74zcZ3tLUZoi5QNyVTaV4"
COMPUTE_BUDGET = "ComputeBudget111111111111111111111111111111"
KAMINO = "KLend2g3cP87fffoy8q1mQqGKjrxjC8boSyAYavgmjD"
UNKNOWN_PROGRAM = "Unkn0wnProgram1111111111111111111111111111"

# program id -> registry type, the rows the classifier knows about
# (the engine's PROGRAM_REGISTRY_ROWS restricted to the ids used here)
PROGRAM_TYPES = {
    SYSTEM: "System",
    COMPUTE_BUDGET: "System",
    TOKEN: "Token",
    TOKEN_2022: "Token",
    ATA: "Token",
    METAPLEX: "NFT",
    RAYDIUM: "DEX",
    JUPITER: "DEX",
    KAMINO: "DeFi",
}

TYPES = (
    "dex_swap",
    "nft_mint",
    "spl_token_transfer",
    "sol_transfer",
    "program_interaction",
    "unknown",
)

FINALITY_LAG = 20
_ENVELOPE = b'{"jsonrpc":"2.0","id":1,"result":'
BLOCK_TIME_BASE = 1_700_000_000
BLOCK_TIME_STEP_S = 9  # 400 slots per hour, so hourly rollups have several groups

# (kind, weight): kind names the transaction template, not the outcome;
# the outcome is derived from the generated instructions by classify().
_KINDS = (
    ("dex", 12),
    ("nft", 6),
    ("token", 22),
    ("token_checked", 10),
    ("sol", 25),
    ("budget_sol", 8),
    ("sys_unknown", 7),
    ("defi", 4),
    ("unknown", 4),
    ("empty", 2),
)


def classify(program_ids: list[str]) -> str:
    """The precedence chain over a transaction's distinct program ids:
    DEX > NFT > Token > exactly-one-System > System-present > unknown."""
    types = [PROGRAM_TYPES.get(p) for p in program_ids]
    if "DEX" in types:
        return "dex_swap"
    if "NFT" in types:
        return "nft_mint"
    if "Token" in types:
        return "spl_token_transfer"
    if len(program_ids) == 1 and types[0] == "System":
        return "sol_transfer"
    if "System" in types:
        return "program_interaction"
    return "unknown"


def _pubkey(k) -> str:
    return k["pubkey"] if isinstance(k, dict) else k


def program_ids(tx: dict) -> list[str]:
    """coalesce(programId, program, accountKeys[programIdIndex]) per
    instruction, distinct in first-seen order."""
    keys = [_pubkey(k) for k in tx["message"]["accountKeys"]]
    out: list[str] = []
    for ins in tx["message"]["instructions"]:
        pid = ins.get("programId") or ins.get("program")
        if pid is None and "programIdIndex" in ins:
            idx = ins["programIdIndex"]
            pid = keys[idx] if 0 <= idx < len(keys) else None
        if pid is not None and pid not in out:
            out.append(pid)
    return out


def transfer_details(tx: dict) -> tuple[int | None, str | None]:
    """(amount, token) of the first system or token transfer, else
    (None, None)."""
    for ins in tx["message"]["instructions"]:
        parsed = ins.get("parsed")
        if not isinstance(parsed, dict):
            continue
        prog, pid, kind = ins.get("program"), ins.get("programId"), parsed.get("type")
        info = parsed.get("info", {})
        if (prog == "system" or pid == SYSTEM) and kind == "transfer":
            return info.get("lamports"), "SOL"
        if (prog == "spl-token" or pid == TOKEN) and kind in ("transfer", "transferChecked"):
            amount = info.get("amount")
            if amount is None:
                amount = info.get("tokenAmount", {}).get("amount")
            return (None if amount is None else int(amount)), info.get("mint", "unknown")
    return None, None


@dataclass
class TxRecord:
    signature: str
    slot: int
    index: int
    success: bool
    fee: int
    type: str
    signer: str
    amount: int | None
    token: str | None


@dataclass
class Chain:
    """Generated slots plus the ledger of everything they hold."""

    seed: int
    first_slot: int
    n_slots: int
    txs_per_block: int
    payers: list[str]
    responses: dict[int, bytes] = field(default_factory=dict)
    block_times: dict[int, int] = field(default_factory=dict)
    txs: list[TxRecord] = field(default_factory=list)

    @property
    def last_slot(self) -> int:
        return self.first_slot + self.n_slots - 1

    def skipped(self, slot: int) -> bool:
        return slot not in self.block_times

    def txs_in(self, lo: int, hi: int) -> list[TxRecord]:
        return [t for t in self.txs if lo <= t.slot <= hi]

    def block_json(self, slot: int) -> str:
        """The ``getBlock`` result of a slot that was not skipped."""
        return self.responses[slot][len(_ENVELOPE) : -1].decode()


def concat(a: Chain, b: Chain) -> Chain:
    """Two adjacent chains as one (``b`` starts right after ``a``)."""
    if b.first_slot != a.last_slot + 1:
        raise ValueError("chains are not adjacent")
    out = Chain(a.seed, a.first_slot, a.n_slots + b.n_slots, a.txs_per_block, a.payers + b.payers)
    out.responses = {**a.responses, **b.responses}
    out.block_times = {**a.block_times, **b.block_times}
    out.txs = a.txs + b.txs
    return out


def _hex(rng: random.Random, nchars: int) -> str:
    return format(rng.getrandbits(nchars * 4), f"0{nchars}x")


def _system_transfer(rng, src, dst) -> dict:
    return {
        "parsed": {
            "type": "transfer",
            "info": {"lamports": rng.randrange(1, 10**9), "source": src, "destination": dst},
        },
        "program": "system",
        "programId": SYSTEM,
    }


def _token_transfer(rng, src, dst, checked: bool, mint: str) -> dict:
    amount = str(rng.randrange(1, 10**7))
    if checked:
        info = {
            "source": src,
            "destination": dst,
            "mint": mint,
            "authority": src,
            "tokenAmount": {"amount": amount, "decimals": 6},
        }
    else:
        # plain `transfer` carries no mint: the engine reports 'unknown'
        info = {"source": src, "destination": dst, "amount": amount, "authority": src}
    return {
        "parsed": {"type": "transferChecked" if checked else "transfer", "info": info},
        "program": "spl-token",
        "programId": TOKEN,
    }


def _compiled(keys: list, pid: str) -> dict:
    """An unparsed instruction that names its program by account index."""
    keys.append(pid)
    return {"programIdIndex": len(keys) - 1, "accounts": [0], "data": "3Bxs4h24hBtQy9rw"}


def _make_tx(rng: random.Random, kind: str, payer: str, mints: list[str]) -> dict:
    other = _hex(rng, 44)
    keys: list = [payer, other]
    instrs: list[dict] = []
    if kind == "dex":
        instrs.append(_compiled(keys, COMPUTE_BUDGET))
        instrs.append({"programId": rng.choice((RAYDIUM, JUPITER)), "accounts": [payer], "data": "ab"})
        instrs.append(_token_transfer(rng, payer, other, rng.random() < 0.5, rng.choice(mints)))
    elif kind == "nft":
        instrs.append(_compiled(keys, METAPLEX))
        instrs.append(_token_transfer(rng, payer, other, True, rng.choice(mints)))
    elif kind in ("token", "token_checked"):
        if rng.random() < 0.3:
            instrs.append(_compiled(keys, ATA))
        instrs.append(_token_transfer(rng, payer, other, kind == "token_checked", rng.choice(mints)))
    elif kind == "sol":
        instrs.append(_system_transfer(rng, payer, other))
    elif kind == "budget_sol":
        instrs.append(_compiled(keys, COMPUTE_BUDGET))
        instrs.append(_system_transfer(rng, payer, other))
    elif kind == "sys_unknown":
        instrs.append(_system_transfer(rng, payer, other))
        instrs.append(_compiled(keys, UNKNOWN_PROGRAM))
    elif kind == "defi":
        instrs.append(_compiled(keys, KAMINO))
    elif kind == "unknown":
        instrs.append({"programId": UNKNOWN_PROGRAM, "accounts": [payer], "data": "01"})
    # "empty": no instructions at all
    if rng.random() < 0.5:
        keys = [
            {"pubkey": k, "signer": i == 0, "writable": i < 2, "source": "transaction"}
            for i, k in enumerate(keys)
        ]
    failed = rng.random() < 0.1
    return {
        "signatures": [_hex(rng, 88)],
        "message": {
            "accountKeys": keys,
            "recentBlockhash": _hex(rng, 44),
            "instructions": instrs,
        },
        "meta": {
            "err": {"InstructionError": [0, {"Custom": 1}]} if failed else None,
            "fee": 5000 + 100 * rng.randrange(0, 50),
        },
    }


def generate(
    seed: int,
    first_slot: int,
    n_slots: int,
    txs_per_block: int,
    skip_ratio: float = 0.02,
    n_payers: int = 400,
) -> Chain:
    """Build ``n_slots`` slots from ``first_slot``; the same arguments
    give byte-identical responses."""
    rng = random.Random(seed)
    payers = [_hex(rng, 44) for _ in range(n_payers)]
    mints = [_hex(rng, 44) for _ in range(8)]
    kinds = [k for k, _ in _KINDS]
    weights = [w for _, w in _KINDS]
    chain = Chain(seed, first_slot, n_slots, txs_per_block, payers)
    for slot in range(first_slot, first_slot + n_slots):
        # the first and last slot are never skipped, so a range's ends are loaded
        if slot not in (first_slot, first_slot + n_slots - 1) and rng.random() < skip_ratio:
            chain.responses[slot] = _ENVELOPE + b"null}"
            continue
        block_time = BLOCK_TIME_BASE + slot * BLOCK_TIME_STEP_S
        raw_txs = []
        for i, kind in enumerate(rng.choices(kinds, weights, k=txs_per_block)):
            # a few payers sign most transactions, as on a real chain
            payer = payers[min(int(rng.paretovariate(1.2)) - 1, n_payers - 1)]
            tx = _make_tx(rng, kind, payer, mints)
            amount, token = transfer_details(tx)
            chain.txs.append(
                TxRecord(
                    signature=tx["signatures"][0],
                    slot=slot,
                    index=i,
                    success=tx["meta"]["err"] is None,
                    fee=tx["meta"]["fee"],
                    type=classify(program_ids(tx)),
                    signer=payer,
                    amount=amount,
                    token=token,
                )
            )
            raw_txs.append(tx)
        block = {
            "blockhash": _hex(rng, 44),
            "previousBlockhash": _hex(rng, 44),
            "parentSlot": slot - 1,
            "blockTime": block_time,
            "blockHeight": slot - 1000,
            "transactions": raw_txs,
        }
        chain.block_times[slot] = block_time
        chain.responses[slot] = _ENVELOPE + json.dumps(block, separators=(",", ":")).encode() + b"}"
    return chain
