"""Adversarial framing test for the line-oriented text connector.

The fixture corpus never contains tabs or newlines, so the oracle gate
alone cannot prove q_text_roundtrip's record framing survives hostile
bodies — exactly the inputs a real raw-text landing zone sees. Build a
tiny documents.parquet whose texts embed every framing hazard (tabs,
LF, CR, empty body, delimiter-only body) and pin the roundtrip
invariants: one output group per lang, per-doc char length preserved
(the translate is 1:1), and max doc_id intact.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from block_data_fetcher_spark.sources.formats import q_text_roundtrip

_HOSTILE = [
    (0, "en", "plain body no hazards"),
    (1, "en", "tab\there and\there"),
    (2, "de", "newline\nin the middle\nand end\n"),
    (3, "de", "carriage\r\nreturn pair"),
    (4, "fr", ""),  # empty body
    (5, "fr", "\t\n\r"),  # delimiter-only body
    (6, "fr", "trailing tab\t"),
]


def test_text_roundtrip_hostile_bodies(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in _HOSTILE], pa.int64()),
                "text": pa.array([r[2] for r in _HOSTILE]),
                "lang": pa.array([r[1] for r in _HOSTILE]),
                "source": pa.array(["t"] * len(_HOSTILE)),
                "n_chars": pa.array(
                    [len(r[2]) for r in _HOSTILE], pa.int64()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = {
        r["lang"]: (r["n_docs"], r["sum_chars"], r["max_doc_id"])
        for r in q_text_roundtrip(spark, d).collect()
    }
    want: dict[str, tuple[int, int, int]] = {}
    for doc_id, lang, text in _HOSTILE:
        n, chars, mx = want.get(lang, (0, 0, -1))
        want[lang] = (n + 1, chars + len(text), max(mx, doc_id))
    assert got == want
