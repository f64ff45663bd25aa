"""Solana JSON-RPC block source (reference S1/S2/ST1:
``src/rpc/mod.rs:64-90``, ``src/main.rs:123-148``).

Batch: :func:`read_slots` splits a slot range into ``batch_size``
chunks, one row per chunk of a ``spark.range``, and
``mapInArrow`` fetches each chunk's blocks — the distributed
restatement of the reference's strictly sequential fetch loop (one
block per 100 ms, ``src/etl/extract.rs:284-286``; its README lists
parallel fetching as future work — partitioned fetch IS that future
work). No Python DataSource planner runs, so a load starts no planning
processes.

Stream: ``SolanaRpcStreamReader``, a Spark 4 Python DataSource
``SimpleDataSourceStreamReader`` whose offsets are slot positions;
``latestOffset`` polls the chain head minus a 20-slot finality lag —
the reference's continuous mode (which its code never finished: the
loop only logs, ``src/main.rs:144-147``).

The batch DataSource reader ``SolanaRpcReader`` (``format("solana_rpc")``)
is kept only for the staged trace of ``perfbench``'s ``backfill``; it
splits the range by the same chunk rule as :func:`read_slots`.

Every reader runs one fetch loop (``_SlotFetcher._blocks``) over one
JSON-RPC request helper (``_rpc_call``); ``cli.run`` reads the source
once in either mode and hands it to :func:`..etl.load.load_blocks`.

Network is OPTIONAL and never on the correctness path: with
``mode=offline`` (default) the source emits deterministic synthetic
blocks shaped like `getBlock` JsonParsed responses, so the full
pipeline (source → extract → classify → upsert) runs hermetically.
Rows are ``(slot bigint, raw string)`` — exactly the input contract of
:mod:`..etl.extract`.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

_SCHEMA_DDL = "slot bigint, raw string"
FINALITY_LAG = 20  # reference: process up to latest-20 (src/main.rs:93-98)
RPC_TIMEOUT_S = 30  # per JSON-RPC request, getBlock and getSlot alike

_SYSTEM = "11111111111111111111111111111111"
_TOKEN = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
_DEX = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"


def synthetic_block(slot: int) -> str:
    """Deterministic getBlock-shaped JSON for offline mode: four
    transactions per block."""
    txs = []
    for i in range(4):
        kind = (slot + i) % 3
        if kind == 0:
            instr = {
                "parsed": {
                    "type": "transfer",
                    "info": {
                        "lamports": 1000 + slot + i,
                        "source": f"Src{slot}_{i}",
                        "destination": f"Dst{slot}_{i}",
                    },
                },
                "program": "system",
                "programId": _SYSTEM,
            }
        elif kind == 1:
            instr = {
                "parsed": {
                    "type": "transfer",
                    "info": {
                        "amount": str(500 + i),
                        "source": f"TA{slot}_{i}",
                        "destination": f"TB{slot}_{i}",
                        "mint": "Mint1",
                        "authority": f"Auth{i}",
                    },
                },
                "program": "spl-token",
                "programId": _TOKEN,
            }
        else:
            instr = {"programIdIndex": 1, "accounts": [f"Acc{slot}_{i}"], "data": "00"}
        txs.append(
            json.dumps(
                {
                    "signatures": [f"sig_{slot}_{i}"],
                    "message": {
                        "accountKeys": [f"Payer{slot}_{i}", _DEX],
                        "instructions": [instr],
                    },
                    "meta": {"err": None if (slot + i) % 5 else {"e": 1}, "fee": 5000},
                }
            )
        )
    return json.dumps(
        {
            "blockhash": f"BH{slot}",
            "previousBlockhash": f"BH{slot - 1}",
            "parentSlot": slot - 1,
            "blockTime": 1_700_000_000 + slot,
            "blockHeight": slot,
            "transactions": txs,
        }
    )


MAX_RETRIES = 3  # reference default (src/cli.rs:99)
RETRY_DELAY_S = 2.0  # reference default, linear backoff (src/cli.rs:100)


_RETRYABLE_HTTP = (408, 429, 500, 502, 503, 504)
# Solana JSON-RPC error codes: the slot was skipped, or the node cannot
# serve it yet. Any other error object fails the slot.
_SKIPPED_SLOT_CODES = (-32007, -32009)
_RETRYABLE_RPC = (-32004, -32005, -32014)


class RpcError(Exception):
    """A JSON-RPC ``error`` object in a reply (the HTTP status was 200)."""

    def __init__(self, code, message):
        super().__init__(code, message)
        self.code = code


def _is_transient(e: BaseException) -> bool:
    """Retry only errors that a later attempt can plausibly fix
    (ADVICE r5: retrying bare Exception burned all attempts + backoff
    sleeps per slot on deterministic failures like 404s or malformed
    JSON). HTTPError subclasses URLError AND OSError, so it is
    classified first by status code, and a JSON-RPC error object by its
    code; everything transport-shaped (connection reset, DNS, timeout,
    truncated/garbled HTTP response) retries; parse/programming errors
    fail fast."""
    import http.client
    import socket
    import urllib.error

    if isinstance(e, urllib.error.HTTPError):
        return e.code in _RETRYABLE_HTTP
    if isinstance(e, RpcError):
        return e.code in _RETRYABLE_RPC
    # http.client.HTTPException covers IncompleteRead/BadStatusLine —
    # a flaky server truncating or garbling a response mid-flight is
    # genuinely transient, but subclasses neither URLError nor
    # ConnectionError (ADVICE r6: one truncated body failed the slot
    # immediately).
    return isinstance(
        e,
        (
            urllib.error.URLError,
            http.client.HTTPException,
            socket.timeout,
            TimeoutError,
            ConnectionError,
        ),
    )


def _with_retry(fn, max_retries: int = MAX_RETRIES,
                delay_s: float = RETRY_DELAY_S, sleep=None):
    """Bounded retry with linear backoff around ONE network fetch —
    the reference's extract retry loop (src/pipeline.rs:188-247):
    on failure sleep ``delay_s × attempt_number`` and retry; after
    ``max_retries`` total attempts re-raise the last error. Unlike
    the reference's broad retry, only TRANSIENT errors
    (:func:`_is_transient`) are retried — a deterministic 4xx or JSON parse
    error surfaces on the first attempt instead of paying
    (max_retries − 1) backoff sleeps per slot. Each retried error is
    logged so flaky endpoints are visible. Applies only to the online
    path (the offline synthetic source cannot fail); Spark task
    retries remain the outer, coarser layer."""
    if sleep is None:
        import time

        sleep = time.sleep
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as e:
            if not _is_transient(e):
                raise
            attempt += 1
            if attempt >= max_retries:
                raise
            import logging

            logging.getLogger(__name__).warning(
                "transient RPC error (attempt %d/%d): %r", attempt,
                max_retries, e,
            )
            sleep(delay_s * attempt)


def _rpc_call(url: str, method: str, params: list):
    """POST one JSON-RPC request and return its ``result``. An ``error``
    object raises :class:`RpcError`: it is never read as a null result."""
    import urllib.request

    payload = json.dumps(
        {"jsonrpc": "2.0", "id": 1, "method": method, "params": params}
    ).encode()
    req = urllib.request.Request(
        url, data=payload, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=RPC_TIMEOUT_S) as resp:
        body = json.load(resp)
    error = body.get("error")
    if error is not None:
        raise RpcError(error.get("code"), error.get("message"))
    return body.get("result")


def _fetch_block_rpc(url: str, slot: int):
    """getBlock with the reference's params (src/rpc/mod.rs:64-83).
    Returns ``None`` for a slot with no block: ``result: null`` or a
    skipped-slot error code."""
    config = {
        "encoding": "jsonParsed",
        "transactionDetails": "full",
        "rewards": True,
        "maxSupportedTransactionVersion": 0,
    }
    try:
        return _rpc_call(url, "getBlock", [slot, config])
    except RpcError as e:
        if e.code in _SKIPPED_SLOT_CODES:
            return None
        raise


def finalized_slot(url: str, max_retries: int, retry_delay: float) -> int:
    """The chain head less :data:`FINALITY_LAG`: the newest slot the
    reference's loop processes (src/main.rs:93-98)."""
    head = _with_retry(
        lambda: _rpc_call(url, "getSlot", []), max_retries, retry_delay
    )
    return head - FINALITY_LAG


class _SlotFetcher:
    """The options every reader shares, and the one per-slot fetch loop
    they all run."""

    def __init__(self, options: dict):
        self.start = int(options.get("start_slot", 0))
        self.mode = options.get("mode", "offline")
        self.url = options.get("url", "")
        # reference CLI knobs (src/cli.rs:39-43, defaults :99-100)
        self.max_retries = int(options.get("max_retries", MAX_RETRIES))
        self.retry_delay = float(options.get("retry_delay", RETRY_DELAY_S))
        # slots per partition (batch) or per micro-batch (stream)
        self.batch_size = int(options.get("batch_size", 10))  # reference cli.rs:34-35

    def _blocks(self, first: int, last: int):
        """Yield ``(slot, raw)`` for slots ``first..last``; a slot with
        no block yields nothing (log-and-skip, ST5)."""
        for slot in range(first, last + 1):
            if self.mode == "offline":
                yield (slot, synthetic_block(slot))
                continue
            result = _with_retry(
                lambda s=slot: _fetch_block_rpc(self.url, s),
                self.max_retries,
                self.retry_delay,
            )
            if result is not None:
                yield (slot, json.dumps(result))


class _SlotRange(_SlotFetcher):
    """A batch read's slots ``start..end``, fetched in chunks of
    ``batch_size`` slots: the one chunk rule of both batch readers."""

    def __init__(self, options: dict):
        super().__init__(options)
        self.end = int(options.get("end_slot", self.start + 9))

    def firsts(self) -> range:
        """The first slot of each chunk."""
        return range(self.start, self.end + 1, self.batch_size)

    def chunk(self, first: int):
        """Yield ``(slot, raw)`` for the chunk that starts at ``first``."""
        return self._blocks(first, min(first + self.batch_size - 1, self.end))


def read_slots(spark: SparkSession, options: dict) -> DataFrame:
    """Batch read of slots ``start_slot..end_slot`` as ``(slot, raw)``
    rows, one partition per chunk: a ``spark.range`` with one row per
    chunk's first slot, whose ``mapInArrow`` fetches the chunk. Each
    fetched block becomes its own Arrow batch, so a worker holds one
    block at a time. Takes the options of ``format("solana_rpc")``."""
    slots = _SlotRange(options)
    firsts = slots.firsts()

    def fetch(batches):
        import pyarrow as pa

        for batch in batches:
            for first in batch.column(0).to_pylist():
                for slot, raw in slots.chunk(first):
                    yield pa.RecordBatch.from_pydict({"slot": [slot], "raw": [raw]})

    return spark.range(
        firsts.start, firsts.stop, firsts.step, numPartitions=len(firsts)
    ).mapInArrow(fetch, _SCHEMA_DDL)


class SolanaRpcReader(_SlotRange, DataSourceReader):
    """The batch reader of ``format("solana_rpc")``: a partition per
    chunk of :class:`_SlotRange`, as :func:`read_slots` reads them. Only
    ``perfbench``'s staged ``backfill`` trace still reads through it."""

    def partitions(self):
        return [InputPartition(first) for first in self.firsts()]

    def read(self, partition: InputPartition):
        return self.chunk(partition.value)


class SolanaRpcStreamReader(_SlotFetcher, SimpleDataSourceStreamReader):
    """Offsets are slot cursors: {"slot": next_unprocessed}. A
    micro-batch covers at most ``batch_size`` slots."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._offline_head = self.start + FINALITY_LAG + 5

    def initialOffset(self):
        return {"slot": self.start}

    def _latest_final(self) -> int:
        if self.mode == "offline":
            # offline head advances each poll — a deterministic chain
            self._offline_head += 3
            return self._offline_head - FINALITY_LAG
        return finalized_slot(self.url, self.max_retries, self.retry_delay)

    def read(self, start: dict):
        first = start["slot"]
        last = min(self._latest_final(), first + self.batch_size - 1)
        return iter(list(self._blocks(first, last))), {"slot": max(first, last + 1)}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Re-fetch ``[start, end)``: Spark replays a micro-batch that
        was planned but not committed before a restart."""
        return self._blocks(start["slot"], end["slot"] - 1)


class SolanaRpcDataSource(DataSource):
    """`spark.read.format("solana_rpc").option(...)` after
    `spark.dataSource.register(SolanaRpcDataSource)`."""

    @classmethod
    def name(cls) -> str:
        return "solana_rpc"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return SolanaRpcReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return SolanaRpcStreamReader(self.options)
