"""Text-format connectors: CSV and JSON-lines ingestion with explicit
schemas, proven by write→read→aggregate roundtrips.

The reference's only wire format is JSON (Solana JSON-RPC responses,
``src/rpc/mod.rs:64-83``), landed into Postgres; a production landing
zone additionally receives CSV/JSONL drops. The engine policy from
SURVEY §1.3 applies to both: schema-on-read with an EXPLICIT schema,
never inference — inference costs an extra pass over 100 TB and can
silently widen types between batches.

Each roundtrip query writes a projection of ``events`` to the
(git-ignored) local warehouse in the text format, reads it back with
the declared schema, and aggregates; the DuckDB oracle computes the
same aggregate from the original parquet, so the comparison proves
the format path is lossless for longs, doubles, strings, and
microsecond timestamps. Timestamps cross the text boundary as
ISO-8601 with explicit ``timestampFormat`` on both write and read —
the default would drop sub-second precision on some locales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..scratch import scratch_dir

# The fixture `ts` is TIMESTAMP_NTZ (parquet ns, no zone): text writers
# format it through `timestampNTZFormat` — setting only `timestampFormat`
# would silently fall back to the millisecond default on write while the
# read side demands micros, nulling every timestamp. Both options are
# pinned to the same micros pattern (no offset: NTZ carries none) and the
# read schema declares the same NTZ type the table has.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
_SCHEMA = "event_id long, event_type string, value double, ts timestamp_ntz"



def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("ts").alias("max_ts"),
        F.max("event_id").alias("max_id"),
    )


_ROUNDTRIP_ORACLE = """
    SELECT event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value,
           max(ts) AS max_ts,
           max(event_id) AS max_id
    FROM events GROUP BY event_type
"""


def _events_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header, ISO timestamps) → read with explicit
    schema → aggregate. Matching the parquet-side oracle proves the
    CSV path loses nothing."""
    path = scratch_dir(spark, "formats", "events_csv")
    _events_slice(spark, sf_dir).write.mode("overwrite").option(
        "header", "true"
    ).option("timestampFormat", _TS_FMT).option(
        "timestampNTZFormat", _TS_FMT
    ).csv(path)
    back = (
        spark.read.schema(_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return _roundtrip_agg(back)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines → read with explicit schema → aggregate.
    The same shape the reference's RPC responses arrive in (one JSON
    document per record)."""
    path = scratch_dir(spark, "formats", "events_jsonl")
    _events_slice(spark, sf_dir).write.mode("overwrite").option(
        "timestampFormat", _TS_FMT
    ).option("timestampNTZFormat", _TS_FMT).json(path)
    back = (
        spark.read.schema(_SCHEMA)
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .option("mode", "PERMISSIVE")
        .json(path)
    )
    return _roundtrip_agg(back)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → read → aggregate. The columnar-format sibling of
    the parquet path (warehouse interchange with Hive/Trino stacks);
    ORC carries types natively, so unlike the text formats no
    timestampFormat contract is needed — the roundtrip proves
    binary-columnar interchange is lossless end to end."""
    path = scratch_dir(spark, "formats", "events_orc")
    _events_slice(spark, sf_dir).write.mode("overwrite").orc(path)
    back = spark.read.schema(_SCHEMA).orc(path)
    return _roundtrip_agg(back)


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML (Spark 4's built-in XML source, rowTag=event) →
    read with explicit schema → aggregate. The schema-on-read path for
    the XML feeds enterprise stacks still emit; the same
    timestampNTZFormat contract as CSV/JSON pins the NTZ column
    through the text representation."""
    path = scratch_dir(spark, "formats", "events_xml")
    _events_slice(spark, sf_dir).write.mode("overwrite").format("xml").option(
        "rootTag", "events"
    ).option("rowTag", "event").option("timestampFormat", _TS_FMT).option(
        "timestampNTZFormat", _TS_FMT
    ).save(path)
    back = (
        spark.read.schema(_SCHEMA)
        .format("xml")
        .option("rowTag", "event")
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .option("mode", "PERMISSIVE")
        .load(path)
    )
    return _roundtrip_agg(back)


def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → line-oriented plain text (one record per line,
    tab-delimited ``doc_id \\t lang \\t text``) → ``spark.read.text``
    → parse → aggregate. The raw-corpus landing shape (C4/OSCAR-style
    one-document-per-line dumps) that a training-data pipeline
    ingests before any columnar conversion.

    Record framing: the writer TRANSLATE-s tabs/newlines/CRs inside
    the body to spaces (1:1, length-preserving — the oracle's
    ``length(text)`` is unchanged) so one record is exactly one line
    and the two delimiter splits are unambiguous; the reader splits
    with ``limit=3`` so any residual delimiter bytes stay in the
    body. Written UNCOMPRESSED deliberately: at 100 TB a gzip text
    dump is one unsplittable stream per file, so either leave raw or
    use a splittable codec (bzip2) — the scan here stays
    one-task-per-128MB-split either way."""
    path = scratch_dir(spark, "formats", "docs_text")
    docs = table(spark, sf_dir, "documents")
    # concat_ws SKIPS null arguments (it does not emit an empty
    # field), so a null doc_id or lang would shift the tab framing
    # and the reader would silently mis-parse (lang becomes the
    # body's first chunk). Coalesce the two leading fields to the
    # classic "\\N" ext-file null marker and nullif it back on read;
    # only the LAST field (text) may rely on concat_ws's drop
    # behavior, where a missing trailer cannot shift anything.
    # Known sentinel collision (ADVICE r12): the round-trip is exact
    # for doc_id (a long's string form can never be "\\N") but a
    # legitimate lang VALUE equal to the literal two chars \N would
    # read back as NULL — the same ambiguity every \N-marked text
    # dump (Hive/MySQL LOAD DATA) carries. The fixture lang domain is
    # ISO codes, so the collision is unreachable here; a general
    # writer would escape a leading backslash in lang before writing.
    null_mark = "\\N"
    (
        docs.select(
            F.concat_ws(
                "\t",
                F.coalesce(F.col("doc_id").cast("string"), F.lit(null_mark)),
                F.coalesce(F.col("lang"), F.lit(null_mark)),
                F.translate("text", "\t\n\r", "   "),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    parts = F.split(F.col("value"), "\t", 3)
    parsed = spark.read.text(path).select(
        F.nullif(parts.getItem(0), F.lit(null_mark)).cast("long").alias("doc_id"),
        F.nullif(parts.getItem(1), F.lit(null_mark)).alias("lang"),
        parts.getItem(2).alias("text"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.max("doc_id").alias("max_doc_id"),
    )


ORACLE: dict[str, str] = {
    "q_text_roundtrip": """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           max(doc_id) AS max_doc_id
    FROM documents GROUP BY lang
    """,
    "q_csv_roundtrip": _ROUNDTRIP_ORACLE,
    "q_jsonl_roundtrip": _ROUNDTRIP_ORACLE,
    "q_orc_roundtrip": _ROUNDTRIP_ORACLE,
    "q_xml_roundtrip": _ROUNDTRIP_ORACLE,
}
