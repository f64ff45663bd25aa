"""Composed training-data pipelines (north star): the individual
text/dedup operators wired into the end-to-end corpus-curation job a
large-scale LLM data pipeline runs — quality gate → exact dedup →
MinHash-LSH near-dup removal → token accounting.

Each stage is one of the engine's catalog operators
(:mod:`.functions.text`, :mod:`.functions.hashing`), so the pipeline
inherits their scale posture: every stage is a built-in-expression
DataFrame transform; the only shuffles are the exact-dedup window on
the text key and the LSH band groupBy — nothing quadratic in corpus
size, no Python in the hot path, and the whole pipeline is ONE
Catalyst plan (stages fuse; the corpus is scanned once per shuffle
boundary, not once per stage).

The reference has no such pipeline (its transform stage is per-tx
classification, ``src/etl/transform.rs:82-114``); this is the
BASELINE.json north-star extension, fully oracle-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import parallelize, table
from .storage import iter_checkpoint
from .functions.hashing import minhash_pairs, minhash_pairs_sql
from .functions.text import quality_score, quality_sql, token_count

QUALITY_MIN = 0.5
NEAR_DUP_SIM = 0.75  # >= 6 of 8 matching minhash components


def curate_corpus(docs: DataFrame) -> DataFrame:
    """Curate a (doc_id, lang, text) corpus for training:

    1. **quality gate** — keep docs with heuristic quality >= 0.5;
    2. **exact dedup** — one survivor per identical text (lowest
       doc_id wins; `row_number` window on the text key, the same
       last/first-wins shape as the reference's UPSERT S6/S7);
    3. **near-dup removal** — MinHash+LSH candidate pairs at estimated
       similarity >= 0.75; the higher doc_id of each pair is dropped
       (greedy keep-first — deterministic, order-free);
    4. **token accounting** — surviving docs sized for the training
       budget.

    Returns (doc_id, lang, n_tokens, quality).
    """
    scored = docs.select(
        "doc_id", "lang", "text", quality_score("text").alias("quality")
    ).where(F.col("quality") >= QUALITY_MIN)

    w = Window.partitionBy("text").orderBy("doc_id")
    uniq = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        # Two consumers read uniq (the LSH pair branch and the anti-join
        # left side); without a reuse point the scan+quality+dedup
        # window runs twice. A lazy localCheckpoint instead of persist:
        # same one-materialization behavior, but no CacheManager entry
        # pinning the blocks forever — the ContextCleaner frees them
        # when the result frame is dropped (ADVICE r1: persists
        # accumulated across a 128-query bench session). At 100 TB this
        # is where the curated corpus would be checkpointed to storage
        # anyway (stage outputs are the pipeline's restart points).
        .transform(lambda d: iter_checkpoint(d, eager=False))
    )

    dupes = (
        minhash_pairs(uniq.select("doc_id", "text"))
        .where(F.col("est_sim") >= NEAR_DUP_SIM)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    return uniq.join(dupes, "doc_id", "left_anti").select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tokens"),
        "quality",
    )


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline over the documents fixture."""
    return curate_corpus(parallelize(table(spark, sf_dir, "documents"), spark))


# Portable deterministic hash (identical in Spark and DuckDB): first
# 15 hex chars of md5 as a 60-bit integer. Seeded sample() would give
# engine-specific draws; a hash-mod sample is reproducible anywhere.
_HASH100 = "conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) % 100"
_HASH100_DUCK = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"
)


# Target language mix for training (shares sum to 1.0); weights are
# capped so no stratum is oversampled more than 3x its natural rate.
MIX_TARGET = {"en": 0.30, "de": 0.175, "es": 0.175, "fr": 0.175, "zh": 0.175}
MIX_CAP = 3.0


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix reweighting: per-language sampling weights that
    move the corpus token distribution toward a target mix — the
    data-mixture step (cf. DoReMi/Pile-style mixture tuning) that
    sits between curation and sampling in an LLM pipeline.

    weight(lang) = min(target_share / actual_share, cap); the
    expected post-resampling token count is tokens·weight. One
    grouped aggregate over the corpus plus a broadcast of the 1-row
    total — the per-language table is dimension-sized at any corpus
    scale, so the arithmetic is free; the heavy side stays a single
    map-side-combined groupBy."""
    docs = table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    total = per_lang.agg(F.sum("tokens").cast("long").alias("total"))
    target = F.create_map(
        *[F.lit(x) for kv in MIX_TARGET.items() for x in kv]
    )
    share = F.col("tokens") / F.col("total")
    tgt = F.coalesce(target[F.col("lang")], F.lit(0.0))
    weight = F.least(tgt / share, F.lit(MIX_CAP))
    return (
        per_lang.join(F.broadcast(total))
        .select(
            "lang",
            "tokens",
            F.round(share + 1e-9, 4).alias("actual_share"),
            F.round(tgt, 4).alias("target_share"),
            F.round(weight + 1e-9, 4).alias("weight"),
            F.round(F.col("tokens") * weight + 1e-9, 1).alias(
                "expected_tokens"
            ),
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling for training-mix construction: keep
    10% of English (over-represented) and 50% of every other language,
    chosen by a deterministic content hash.

    Hash-mod sampling instead of ``sample()``/``sampleBy()``: the
    draw is a pure function of the row, so it is reproducible across
    engines, re-runs, and retries (a task retry re-sampling different
    rows would break exactly-once sinks downstream). Map-side only —
    the filter costs one md5 per row and the only shuffle is the
    per-stratum accounting aggregate."""
    docs = table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 10).otherwise(50)
    return (
        docs.withColumn("__h", F.expr(_HASH100))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("__h") < rate, 1)).alias("n_sampled"),
        )
    )


WEIGHTED_K = 5
_TWO60 = 1152921504606846976.0  # 2^60, exactly representable in a double


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    exponential-jumps form): keep the k=5 docs per language with the
    smallest priority −ln(u)/w, where w = n_chars (length-weighted
    corpus sampling — longer docs proportionally likelier) and u is a
    uniform derived from the doc's content hash.

    u = (hex₁₅(md5(doc_id)) + 0.5) / 2⁶⁰ is a pure function of the row
    and bit-identical across engines (same md5, same double division),
    so the draw is reproducible across retries/partitionings like the
    other sampling ops. One shuffle on lang; per-stratum cost is a
    WindowGroupLimit top-k. (The ln is evaluated by two libms —
    not guaranteed correctly-rounded — but a ranking flip needs two
    continuous priorities within one ulp; doc_id tie-break covers the
    measure-zero case.)"""
    docs = table(spark, sf_dir, "documents")
    h = F.expr(
        "conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(_TWO60)
    pri = -F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= WEIGHTED_K)
        .select("lang", "rk", "doc_id", "n_chars")
    )


BALANCED_K = 10


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-stratum sampling: EXACTLY k=10 documents per
    language, chosen by ranking on a content hash (md5 — identical in
    both engines) — the class-balanced subset builder for training
    mixes, complementing rate-based q_stratified_sample (which keeps a
    proportion, not a count).

    Ranking on a deterministic content hash = a seeded uniform draw
    that is reproducible across engines, retries, and partitionings
    (Spark's sample() is none of these). One shuffle on lang; the
    per-group sort is a WindowGroupLimit top-k, not a full sort, so a
    stratum's cost is bounded by k, not its population."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BALANCED_K)
        .select("lang", "rk", "doc_id")
    )


# The short-doc guard matters: Spark's sequence(1, 0) DESCENDS to
# [1, 0] (it does not return empty like DuckDB's range), so a <5-token
# document would reach slice() with start=0 and fail the whole job.
_GRAMS5 = (
    "if(size(split(text, ' ')) < 5, array(), "
    "transform(sequence(1, size(split(text, ' ')) - 4), "
    "i -> concat_ws(' ', slice(split(text, ' '), i, 5))))"
)
_GRAMS5_DUCK = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1), "
    "i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))"
)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares a 5-gram with the held-out set (here: source 'src0' plays
    the benchmark), then account for what survives per language.

    The canonical pre-training hygiene op. Spark-first shape: both
    sides explode to (doc_id, gram); the benchmark grams are
    DISTINCT'd (dimension-sized — |benchmark| ≪ |corpus|), the
    contaminated ids come from a LEFT SEMI join on the gram key and
    survivors from a LEFT ANTI join on doc_id — the full documents
    never move through the gram shuffle, only (id, gram) pairs. Both
    sides pre-hash the gram to a 64-bit int (xxhash64) BEFORE the
    shuffle — the join key drops from a ~30-byte string to 8 bytes
    and compares as a long. On local[32] this is cost-neutral (the
    sf10 proof pinned the bottleneck as gram-explosion CPU, ~in-memory
    exchange); on a network-bound cluster the ~4× fewer exchange
    bytes are the win — this stays the heaviest catalog entry either
    way because it re-tokenizes the full corpus (linear, 9.3× wall
    for 10× rows at the sf10 proof). A 64-bit collision between
    a train-only and bench gram would misflag one doc; at n grams the
    chance is ~n²/2⁶⁴ (≈1e-7 even at sf10) and the string-keyed
    DuckDB oracle would catch exactly that, so the gate doubles as a
    collision monitor."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    train = docs.where(F.col("source") != "src0")
    gram_h = F.xxhash64(F.col("gram")).alias("gh")
    bench_grams = (
        bench.select(F.explode(F.expr(_GRAMS5)).alias("gram"))
        .select(gram_h)
        .distinct()
    )
    contaminated = (
        train.select("doc_id", F.explode(F.expr(_GRAMS5)).alias("gram"))
        .select("doc_id", gram_h)
        .join(bench_grams, "gh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        train.join(contaminated, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_clean"),
            F.sum(token_count("text")).alias("clean_tokens"),
        )
    )


PACK_CAPACITY = 2048  # tokens per training sequence


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: concatenate documents
    (per language, in doc_id order) into fixed-capacity token bins and
    report each bin's fill.

    The contiguous-fill strategy — bin = floor(tokens-before / C) —
    is a pure running-sum window, so packing 100 TB is ONE shuffle on
    the language key followed by map-side binning; greedy first-fit
    (better fill, inherently sequential) is what this approximates.
    The same window also yields each doc's offset inside its bin (not
    emitted here)."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    toks = token_count("text")
    cum = F.sum(toks).over(w)
    return (
        docs.select(
            "lang",
            toks.alias("n_tokens"),
            ((cum - toks) / PACK_CAPACITY).cast("long").alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
    )


EXPORT_SHARDS = 16
_FP_MOD = 1_000_000_007  # keep per-doc fingerprints summable in int64


def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export sharding: assign every document
    to one of 16 shards by a pure hash of its id, and report each
    shard's manifest (doc count, token count, order-independent
    content fingerprint) — the final step that turns a curated corpus
    into reproducible training files.

    The shard id is a Knuth multiplicative hash of ``doc_id`` — a
    pure function of the row, so shard membership is stable across
    engines, re-runs, and task retries (same rationale as
    :func:`q_stratified_sample`'s hash-mod draw; a `repartition(N)`
    round-robin would re-deal on every retry). The content
    fingerprint sums per-doc md5 prefixes mod a prime, so it is
    insensitive to row order within a shard — two exports match iff
    their shards hold identical document sets. One map-side-combined
    aggregate over 16 keys; at 100 TB the physical write is
    ``.repartition(N, shard).write.partitionBy("shard")`` with this
    manifest as the verification artifact."""
    docs = table(spark, sf_dir, "documents")
    shard = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
        % EXPORT_SHARDS
    ).cast("long")
    fp = (
        F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("long")
        % _FP_MOD
    )
    return (
        docs.select(
            shard.alias("shard"),
            token_count("text").alias("toks"),
            fp.alias("fp"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.sum("fp").alias("content_fp"),
        )
    )


SPLIT_MOD = 1000
SPLIT_TRAIN = 800  # [0, 800) → train
SPLIT_VAL = 900  # [800, 900) → val, rest → test


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by a pure
    multiplicative hash of ``doc_id``, reported as per-(split, lang)
    counts and token totals — the reproducibility contract every
    training pipeline needs: membership is a function of the row key
    alone, so re-runs, task retries, and other engines (the oracle)
    all deal identical splits, and a document can never leak between
    train and eval across exports.

    Scale: the split column is a map-side expression (no shuffle, no
    randomness, no sampling pass); the report is one combinable
    aggregate over ~15 keys. Contrast with `randomSplit`, which is
    seed- AND partitioning-dependent, so a repartition or retry
    re-deals the membership."""
    docs = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % SPLIT_MOD
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", token_count("text").alias("toks"))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("toks").alias("n_tokens"))
    )


DP_EPSILON = 0.5  # per-query privacy budget; count sensitivity = 1


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-event-type counts via the
    Laplace mechanism: noisy = count + Lap(1/ε), the standard release
    primitive when a training-data pipeline publishes corpus
    composition stats without exposing individual contributions.

    The Laplace draw uses inverse-CDF sampling
    Lap(b) = −b·sign(u−½)·ln(1−2|u−½|) with u a uniform derived from
    the GROUP KEY's md5 — a pure function of the key, so the release
    is reproducible across engines/retries (same determinism stance
    as every sampling op here; a production deployment would salt the
    hash with a per-release secret instead). The true count rides
    along for the oracle comparison — a real release would drop it.

    Scale: one map-side-combined count per group; the noise term is
    O(1) arithmetic on the reduced aggregate. ε-budget accounting
    across releases is the caller's ledger."""
    ev = table(spark, sf_dir, "events")
    h = F.expr(
        "conv(substring(md5(event_type), 1, 15), 16, 10)"
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(_TWO60)
    b = 1.0 / DP_EPSILON
    noise = (
        -F.lit(b)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("true_count"))
        .select(
            "event_type",
            "true_count",
            (F.round(F.col("true_count") + noise + 1e-9, 4) + 0.0).alias(
                "noisy_count"
            ),
        )
    )


N_DEPTH_BINS = 10


_DEPTH_BUCKET_W = 4096.0  # equi-width pre-bucket for the two-phase rank


def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH binning of lineitem prices (exact ntile semantics):
    10 buckets of equal row count with their value ranges — the
    quantile-bucket feature transform (and the partition-range
    planner's histogram), complementing q_histogram's equi-WIDTH
    bins. Ties are broken by (orderkey, linenumber) so the tiling is
    a total order and both engines deal identical buckets.

    Scale: a naive `ntile() OVER (ORDER BY ...)` has an empty
    PARTITION BY, which Spark executes as a SINGLE-TASK global sort
    (measured 10 s at sf1, and it only degrades from there). Instead
    the global rank is computed two-phase, the same shape as
    q_interval_overlap's sweep-line: (1) equi-width pre-buckets on
    price give a key that respects the sort order across buckets;
    (2) row_number within each bucket (parallel, one shuffle);
    (3) a cumulative offset over the ~30-row bucket SUMMARY (the only
    global window, dimension-sized); (4) global rank = local rank +
    bucket offset, then the exact ntile bucket formula
    (first N mod B tiles get ⌈N/B⌉ rows). At 100 TB the pre-bucket
    width comes from an approx_percentile sketch instead of a
    constant; everything else is unchanged."""
    li = table(spark, sf_dir, "lineitem")
    pre = li.select(
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") / _DEPTH_BUCKET_W).alias("bk"),
    )
    wloc = Window.partitionBy("bk").orderBy("price", "l_orderkey", "l_linenumber")
    local = pre.withColumn("rn_loc", F.row_number().over(wloc))
    summary = pre.groupBy("bk").agg(F.count("*").alias("cnt"))
    wsum = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = summary.select(
        "bk",
        F.coalesce(F.sum("cnt").over(wsum), F.lit(0)).alias("off"),
        F.sum("cnt").over(
            Window.orderBy("bk").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    ranked = local.join(F.broadcast(offsets), "bk").withColumn(
        "rn", F.col("rn_loc") + F.col("off")
    )
    q = (F.col("n_total") / N_DEPTH_BINS).cast("long")
    r = F.col("n_total") % N_DEPTH_BINS
    cut = r * (q + 1)
    bin_col = F.when(
        F.col("rn") <= cut, F.ceil(F.col("rn") / (q + 1))
    ).otherwise(r + F.ceil((F.col("rn") - cut) / F.greatest(q, F.lit(1))))
    return (
        ranked.select(bin_col.cast("int").alias("bin"), "price")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("price").alias("lo"),
            F.max("price").alias("hi"),
            (F.round(F.avg("price") + 1e-9, 4) + 0.0).alias("mean_price"),
        )
        .orderBy("bin")
    )


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the full record-linkage chain
    the individual operators only demonstrate in pieces: (1) BLOCK
    with Sorted Neighborhood (q_fuzzy_match's lead-window candidates,
    N·W by construction), (2) SCORE candidates by edit distance, (3)
    take scoring pairs as MATCH edges, (4) CLUSTER them with
    alternating-star connected components (star_components, the
    q_cc_star loop: SNM edges are sort-ADJACENCY, so match components
    are long PATHS whose diameter grows with the corpus, and star
    rounds square paths away in O(log L)), (5) emit one GOLDEN
    RECORD per multi-member entity: canonical id (= component min),
    member count, and how many languages the duplicates span.

    Scale: every stage is one of the already-plan-audited shapes —
    sort-window candidates (no join), JVM levenshtein, checkpointed
    O(log diameter) star rounds, one dimension-sized rollup. The
    DuckDB oracle replays the identical chain: the SNM SQL feeding a
    recursive-CTE closure."""
    from .functions.hashing import star_components
    from .functions.text import q_fuzzy_match

    docs = table(spark, sf_dir, "documents")
    pairs = q_fuzzy_match(spark, sf_dir).select("doc_a", "doc_b")
    labels = star_components(spark, docs.select("doc_id"), pairs)
    return (
        labels.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.count_distinct("lang").alias("n_langs"),
        )
        .where(F.col("n_members") >= 2)
    )


def _entity_resolution_sql() -> str:
    from .functions.text import ORACLE as _text_oracle

    return f"""
    WITH RECURSIVE fuzzy AS ({_text_oracle["q_fuzzy_match"]}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM fuzzy
      UNION
      SELECT doc_b, doc_a FROM fuzzy
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
            FROM reach GROUP BY src)
    SELECT l.cluster_id, count(*) AS n_members,
           count(DISTINCT d.lang) AS n_langs
    FROM lab l JOIN documents d ON l.doc_id = d.doc_id
    GROUP BY l.cluster_id
    HAVING count(*) >= 2
    """


ORACLE: dict[str, str] = {
    "q_entity_resolution": _entity_resolution_sql(),
    "q_dp_counts": f"""
        WITH g AS (
          SELECT event_type, count(*) AS true_count FROM events
          GROUP BY event_type
        ), nz AS (
          SELECT event_type, true_count,
                 (CAST('0x' || substr(md5(event_type), 1, 15) AS BIGINT)
                  + 0.5) / {_TWO60!r} AS u
          FROM g
        )
        SELECT event_type, true_count,
               round(true_count
                     + (-{1.0 / DP_EPSILON!r} * sign(u - 0.5)
                        * ln(1 - 2 * abs(u - 0.5))) + 1e-9, 4) + 0.0
                 AS noisy_count
        FROM nz
    """,
    "q_hash_split": f"""
        SELECT CASE
                 WHEN (doc_id * 2654435761) % 4294967296 % {SPLIT_MOD}
                      < {SPLIT_TRAIN} THEN 'train'
                 WHEN (doc_id * 2654435761) % 4294967296 % {SPLIT_MOD}
                      < {SPLIT_VAL} THEN 'val'
                 ELSE 'test'
               END AS split,
               lang,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1, 2
    """,
    "q_equidepth_bins": f"""
        SELECT bin,
               count(*) AS n_rows,
               min(price) AS lo,
               max(price) AS hi,
               round(avg(price) + 1e-9, 4) + 0.0 AS mean_price
        FROM (
          SELECT ntile({N_DEPTH_BINS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ) AS bin,
                 l_extendedprice AS price
          FROM lineitem
        )
        GROUP BY bin ORDER BY bin
    """,
    "q_export_shards": f"""
        SELECT (doc_id * 2654435761) % 4294967296 % {EXPORT_SHARDS} AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(sum(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)
                        % {_FP_MOD}) AS BIGINT) AS content_fp
        FROM documents
        GROUP BY 1
    """,
    "q_corpus_curate": f"""
        WITH scored AS (
          SELECT * FROM ({quality_sql("documents")})
          WHERE quality >= {QUALITY_MIN}
        ), uniq AS (
          SELECT doc_id, lang, text, quality FROM (
            SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM scored
          ) WHERE rn = 1
        ), dupes AS (
          SELECT DISTINCT doc_b AS doc_id
          FROM ({minhash_pairs_sql("uniq")})
          WHERE est_sim >= {NEAR_DUP_SIM}
        )
        SELECT u.doc_id, u.lang,
               CAST(len(string_split(u.text, ' ')) AS BIGINT) AS n_tokens,
               u.quality
        FROM uniq u LEFT JOIN dupes d ON u.doc_id = d.doc_id
        WHERE d.doc_id IS NULL
    """,
    "q_weighted_sample": f"""
        SELECT lang, rk, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                      AS BIGINT) + 0.5) / {_TWO60!r}) / n_chars ASC,
                            doc_id ASC) AS rk
          FROM documents
        ) WHERE rk <= {WEIGHTED_K}
    """,
    "q_balanced_sample": f"""
        SELECT lang, rk, doc_id FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY md5(text), doc_id) AS rk
          FROM documents
        ) WHERE rk <= {BALANCED_K}
    """,
    "q_stratified_sample": f"""
        SELECT lang,
               count(*) AS n_total,
               count(*) FILTER (
                 WHERE {_HASH100_DUCK} <
                       CASE WHEN lang = 'en' THEN 10 ELSE 50 END
               ) AS n_sampled
        FROM documents
        GROUP BY lang
    """,
    "q_mix_weights": f"""
        WITH per_lang AS (
          SELECT lang,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
          FROM documents GROUP BY lang
        ), tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per_lang),
        tgt AS (
          {" UNION ALL ".join(f"SELECT '{k}' AS lang, CAST({v} AS DOUBLE) AS t" for k, v in MIX_TARGET.items())}
        )
        SELECT p.lang, p.tokens,
               round(p.tokens * 1.0 / total + 1e-9, 4) AS actual_share,
               round(coalesce(t.t, 0.0), 4) AS target_share,
               round(least(coalesce(t.t, 0.0) / (p.tokens * 1.0 / total),
                           {MIX_CAP}) + 1e-9, 4) AS weight,
               round(p.tokens * least(coalesce(t.t, 0.0)
                       / (p.tokens * 1.0 / total), {MIX_CAP}) + 1e-9, 1)
                 AS expected_tokens
        FROM per_lang p CROSS JOIN tot LEFT JOIN tgt t ON p.lang = t.lang
    """,
    "q_decontaminate": f"""
        WITH bench_grams AS (
          SELECT DISTINCT unnest({_GRAMS5_DUCK}) AS gram
          FROM documents WHERE source = 'src0'
        ), train AS (
          SELECT * FROM documents WHERE source <> 'src0'
        ), contaminated AS (
          SELECT DISTINCT doc_id
          FROM (SELECT doc_id, unnest({_GRAMS5_DUCK}) AS gram FROM train)
          WHERE gram IN (SELECT gram FROM bench_grams)
        )
        SELECT lang, count(*) AS n_clean,
               CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                    AS BIGINT) AS clean_tokens
        FROM train
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        GROUP BY lang
    """,
    "q_pack_sequences": f"""
        SELECT lang, bin, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM (
          SELECT lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(floor((sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                               OVER (PARTITION BY lang ORDER BY doc_id)
                             - CAST(len(string_split(text, ' ')) AS BIGINT))
                            / {PACK_CAPACITY}) AS BIGINT) AS bin
          FROM documents
        )
        GROUP BY lang, bin
    """,
}
