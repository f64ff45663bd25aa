"""Hash-based near-duplicate detection for LLM training corpora
(north star): MinHash+LSH, SimHash, n-gram Jaccard, document
fingerprinting.

Everything is built on ONE portable token hash both engines compute
identically — the first 15 hex chars of md5 parsed as a 60-bit int —
so the DuckDB oracles can replicate the exact signatures:

    Spark : conv(substring(md5(t), 1, 15), 16, 10)::long
    DuckDB: CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)

All pure Catalyst expressions (no UDFs). Scale posture:

- signatures are per-row map work — embarrassingly parallel;
- LSH candidate generation is an equi-join on (band_idx, band_hash) —
  the shuffle is on tiny band keys, never on all-pairs; at 100 TB
  band skew (a degenerate band value) is handled by AQE skew-join or
  salting the band key;
- only candidate pairs (≪ n²) ever carry full signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import parallelize, table
from ..storage import iter_checkpoint

P = 1_000_000_007  # modulus for permutations (fits 63-bit products)
# fixed permutation coefficients (a_i * h + b_i) % P, i = 0..7
MINHASH_A = [7, 11, 13, 17, 19, 23, 29, 31]
MINHASH_B = [3, 5, 101, 211, 307, 401, 503, 601]
N_HASHES = 8
BAND_ROWS = 2  # 4 bands × 2 rows
SIMHASH_BITS = 16


def token_hash(t: Column) -> Column:
    """60-bit md5-prefix hash — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def shingles(toks: Column) -> Column:
    """Distinct 3-gram shingles of a token array (the DuckDB twin is
    ``_SHINGLES``). `concat` (not concat_ws) so out-of-range tail
    positions yield NULL and are filtered — no short shingles at the
    end.

    ``toks`` (typically a ``split()``) is let-bound through a
    single-element ``transform`` so it evaluates ONCE per row:
    referencing it directly would re-evaluate the split 3x per shingle
    position (no codegen subexpression elimination inside higher-order
    functions) — measured ~4x slower on the shingle stage at sf0.1."""

    def over(ts: Column) -> Column:
        def mk(x: Column, i: Column) -> Column:
            return F.concat(
                F.get(ts, i), F.lit(" "), F.get(ts, i + 1), F.lit(" "), F.get(ts, i + 2)
            )

        return F.array_distinct(
            F.filter(F.transform(ts, mk), lambda s: s.isNotNull())
        )

    return F.get(F.transform(F.array(toks), over), 0)


def shingle_hashes(text: Column) -> Column:
    """text → array of (md5-hash % P) over distinct 3-gram shingles."""
    return F.transform(
        shingles(F.split(text, " ")), lambda s: token_hash(s) % P
    )


def minhash_signature(hashes: Column) -> Column:
    """k=8 minhash components as an array<long>.

    The ``hashes`` expression is let-bound through a single-element
    ``transform`` so it evaluates ONCE per row: referencing it
    directly in all 8 permutations would inline the whole
    shingle→md5 pipeline 8x after Catalyst's project collapse
    (higher-order functions get no codegen subexpression
    elimination) — measured 6x slower at sf0.1."""

    def components(hs: Column) -> Column:
        return F.array(
            *[
                F.array_min(
                    F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % P)
                )
                for a, b in zip(MINHASH_A, MINHASH_B)
            ]
        )

    return F.get(F.transform(F.array(hashes), components), 0)


# ---------------------------------------------------------------------------
# Catalog queries
# ---------------------------------------------------------------------------


LSH_BUCKET_CAP = 1024  # max bucket members paired via in-memory array


def _first_collision(sa: Column, sb: Column, band_idx: Column) -> Column:
    """True iff ``band_idx`` is the FIRST band in which the two
    signatures collide. A pair colliding in k bands is generated k
    times (once per band bucket); keeping only the first occurrence
    dedups the candidate set MAP-SIDE, from data each emitter already
    holds (both full signatures plus its own band index) — where a
    trailing ``distinct()`` would shuffle the entire candidate-pair
    set (713M rows at sf100, the single largest exchange in the dedup
    family) just to drop the multi-band repeats.

    ``eqNullSafe`` mirrors groupBy's null-equals-null bucket
    semantics: an all-NULL-signature pair (empty document) groups
    into the same bucket in EVERY band, so its first collision is
    band 0, exactly what this predicate reports."""

    def bands_differ(j: Column) -> Column:
        eq = F.lit(True)
        for r in range(BAND_ROWS):
            eq = eq & F.get(sa, j * BAND_ROWS + r).eqNullSafe(
                F.get(sb, j * BAND_ROWS + r)
            )
        return ~eq

    return F.when(band_idx == 0, F.lit(True)).otherwise(
        F.forall(F.sequence(F.lit(0), band_idx - 1), bands_differ)
    )


def minhash_pairs(docs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """MinHash+LSH candidate pairs over any (doc_id, text) DataFrame:
    shingle → minhash(8) → band(4×2) → bucket-group → within-bucket
    upper-triangle pairs, estimated similarity = matching components/8.
    Returns (doc_a, doc_b, est_sim) with doc_a < doc_b.

    The scale path for corpus dedup: no all-pairs comparison ever
    happens; candidates come from band-bucket membership.

    Bucketing is a single groupBy on the band key (ONE scan, ONE
    shuffle — a band-keyed self-join would scan the corpus and compute
    every signature twice; measured 2.4x slower at sf0.1).
    Within-bucket pairing is an upper-triangle array expression over
    the sorted member list, so the quadratic work is bounded by bucket
    size — the same contract as the band join, but map-side.

    Skew guard (the VERDICT r1 "giant collect_list" risk): a window
    count over the band key tags each row with its bucket size —
    buckets ≤ ``bucket_cap`` take the map-side array path; oversized
    buckets (a degenerate band value, e.g. millions of near-empty
    docs sharing a signature band) fall back to a band-keyed
    sort-merge self-join, whose per-group buffer SPILLS to disk
    instead of building one giant in-task array. Both paths emit the
    identical pair set, so the split is a pure physical choice. The
    window, the small-bucket groupBy, and both join inputs all hang
    off ONE exchange on (band_idx, band) — signatures are computed
    once, and Spark's ReuseExchange collapses the reads.

    Multi-band repeats are dropped map-side (:func:`_first_collision`
    — each emitter holds both signatures, so "am I the first band
    where this pair collides?" is a row-local predicate). The r7
    alternative, a trailing ``distinct()``, shuffled the ENTIRE
    candidate-pair set — the candidate graph is output-quadratic
    (713M pairs at sf100), so that exchange dominated the whole dedup
    family at scale."""
    sig = docs.select(
        "doc_id", minhash_signature(shingle_hashes(F.col("text"))).alias("sig")
    )
    n_bands = N_HASHES // BAND_ROWS
    bands = sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.get("sig", i * BAND_ROWS + r).alias(f"h{r}")
                            for r in range(BAND_ROWS)
                        ]
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band"),
    )
    w = Window.partitionBy("band_idx", "band")
    flagged = bands.withColumn("bucket_n", F.count("*").over(w))

    grouped = (
        flagged.where(F.col("bucket_n") <= bucket_cap)
        .groupBy("band_idx", "band")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    ms = F.col("ms")
    pairs_expr = F.flatten(
        F.transform(
            ms,
            lambda a, i: F.transform(
                F.filter(
                    F.slice(ms, i + F.lit(2), F.size(ms)),
                    lambda b: _first_collision(
                        a["sig"], b["sig"], F.col("band_idx")
                    ),
                ),
                lambda b: F.struct(
                    a["doc_id"].alias("doc_a"),
                    b["doc_id"].alias("doc_b"),
                    _sig_sim(a["sig"], b["sig"]).alias("est_sim"),
                ),
            ),
        )
    )
    small_pairs = (
        grouped.select(F.explode(pairs_expr).alias("p")).select("p.*")
    )

    big = flagged.where(F.col("bucket_n") > bucket_cap).select(
        "band_idx", "band", "doc_id", "sig"
    )
    left = big.select(
        "band_idx", "band",
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
    )
    right = big.select(
        "band_idx", "band",
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
    )
    big_pairs = (
        left.join(right, on=["band_idx", "band"], how="inner")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            _first_collision(
                F.col("sig_a"), F.col("sig_b"), F.col("band_idx")
            )
        )
        .select(
            "doc_a",
            "doc_b",
            _sig_sim(F.col("sig_a"), F.col("sig_b")).alias("est_sim"),
        )
    )

    # A pair colliding in several bands is emitted only by its FIRST
    # colliding band (map-side :func:`_first_collision` in both
    # paths), so the union IS the distinct candidate set — no
    # pair-set-wide dedup exchange.
    return small_pairs.unionByName(big_pairs)


def _sig_sim(sa: Column, sb: Column) -> Column:
    """Estimated Jaccard: fraction of matching minhash components."""
    return (
        F.size(
            F.filter(F.zip_with(sa, sb, lambda x, y: x == y), lambda eq: eq)
        ).cast("double")
        / N_HASHES
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs over the documents corpus (see
    :func:`minhash_pairs` for the algorithm and scale posture)."""
    return minhash_pairs(parallelize(table(spark, sf_dir, "documents"), spark))


def q_minhash_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-aware near-dup composition (VERDICT r8 item 5):
    corpus-frequency LINE removal **before** MinHash+LSH — the CCNet/
    RefinedWeb ordering. Shared chrome (nav bars, cookie banners) makes
    DIFFERENT documents band-collide, so LSH candidate counts on a
    boilerplate-laden crawl are quadratic in the chrome's reach, not
    the true near-dup rate — the production analog of the sf100
    713M-pair explosion. Cleaning first removes exactly those spurious
    candidates while every true near-dup pair survives (its similarity
    lives in the content, not the chrome).

    Pipeline: plant a cookie-banner-sized per-class chrome block (5
    aligned 4-token pseudo-lines — ``web.plant_boilerplate``), detect
    and strip corpus-frequent pseudo-lines (``web.strip_boilerplate``,
    DF > N/20), then :func:`minhash_pairs` over the cleaned text. The
    block is exactly 5 aligned pseudo-lines, so a correct cleaner
    recovers the raw corpus — pinned by
    tests/test_similarity_quality.py's dirty/clean candidate-count A/B
    (dirty ≫ clean at every SF; the dirty count grows quadratically
    with the corpus because a fifth of the crawl shares each class's
    chrome min-hashes).

    Scale: the added cost is one (line, doc_id) shuffle + a broadcast
    removal join — linear; what it buys is the removal of the
    quadratic spurious-candidate blowup downstream (sf10 A/B in
    BASELINE.md). The DuckDB oracle recomputes the full composition
    (clean SQL feeding :func:`minhash_pairs_sql`)."""
    from .web import plant_boilerplate, strip_boilerplate

    docs = parallelize(table(spark, sf_dir, "documents"), spark).select(
        "doc_id", "text"
    )
    aug = plant_boilerplate(docs, n_lines=5)
    # The DuckDB oracle unrolls the pseudo-line chunking with CROSS
    # JOIN range(_CLEAN_MAX_CHUNKS) while the Spark side is unbounded
    # (ADVICE r9): a document longer than the bound would silently
    # diverge. The fixture generator bounds documents at ~100 tokens
    # (TESTDATA.md; chrome adds 20), so the bound is generous — and a
    # corpus that ever exceeds it fails LOUDLY here instead.
    over = F.size(F.split("text", " ")) > F.lit(_CLEAN_MAX_CHUNKS * _CHUNK_TOKENS)
    aug = aug.select(
        "doc_id",
        F.when(
            over,
            F.raise_error(
                F.lit(
                    "q_minhash_clean: document exceeds the oracle's "
                    f"{_CLEAN_MAX_CHUNKS}-chunk unroll bound — raise "
                    "_CLEAN_MAX_CHUNKS in functions/hashing.py"
                )
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cleaned = strip_boilerplate(aug, docs.count())
    return minhash_pairs(cleaned)


# Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD '03): ORDERED 3-gram
# hashes (winnowing is positional — the distinct shingle set used by
# MinHash would destroy the window structure), then the min hash of
# every w=4 window, deduplicated. Let-bound ws → hs nesting: HOFs get
# no codegen subexpression elimination, and ONE F.expr string avoids
# the ~0.5 s/lambda py4j plan-build cost.
_WINNOW = """
get(transform(array(split(text, ' ')), ws ->
  get(transform(array(
        if(size(ws) < 3, array(),
           transform(sequence(1, size(ws) - 2),
             i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i, 3))),
                            1, 15), 16, 10) as bigint) % 1000000007))), hs ->
    if(size(hs) = 0, cast(array() as array<bigint>),
       if(size(hs) < 4, array(array_min(hs)),
          array_distinct(transform(sequence(1, size(hs) - 3),
            i -> array_min(slice(hs, i, 4))))))), 0)), 0)
"""


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: the min 3-gram hash of every
    sliding 4-window, deduplicated — the published guarantee is that
    any shared substring of ≥ 6 tokens leaves at least one common
    fingerprint, making this the robust plagiarism/overlap detector
    (vs q_fingerprint's whole-document rolling hash).

    Entirely map-side let-bound array expressions; the only shuffle
    is whatever the consumer does with the (doc_id, fp) rows — here
    none (explode is a generator, not an exchange)."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    return docs.select(
        "doc_id", F.explode(F.expr(_WINNOW)).alias("fp")
    )


_WINNOW_SQL = """
    SELECT doc_id, unnest(
      CASE WHEN len(hs) = 0 THEN []
           WHEN len(hs) < 4 THEN [list_min(hs)]
           ELSE list_distinct(list_transform(range(1, len(hs) - 2),
                                             i -> list_min(hs[i:i+3])))
      END) AS fp
    FROM (
      SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_transform(range(1, len(ws) - 1),
                         i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]
                                || ' ' || ws[i+2]), 1, 15) AS BIGINT)
                              % 1000000007)
             END AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )
"""


# Stop-fingerprint threshold for the overlap join: a fingerprint shared
# by more docs than this is a boilerplate phrase, not evidence of
# copying — and it is exactly the join key that would skew at scale.
OVERLAP_MAX_DF = 50


def q_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus overlap (winnow-based decontamination join): which
    training docs share winnowing fingerprints with the benchmark
    corpus (source = 'src0'), and how many — the SIGMOD'03 guarantee
    makes ≥ 6 shared consecutive tokens detectable, so this is the
    contamination detector that n-gram equality misses on small edits.

    Spark-first scale shape: fingerprints are map-side expressions
    (:func:`q_winnow`); the detector is an inverted-index equi-join on
    the fingerprint value. Ultra-common fingerprints (boilerplate) are
    dropped by document frequency BEFORE the join — that both removes
    noise and caps join-key skew (a fingerprint appearing in half the
    corpus would otherwise be a hot key at 100 TB). The DF filter is a
    window count over fp (not a groupBy + self-join), so fingerprints
    are computed once and the filter rides the same fp-partitioning
    the join needs: the join inputs arrive pre-partitioned."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    fps = docs.select(
        "doc_id", "source", F.explode(F.expr(_WINNOW)).alias("fp")
    )
    w = Window.partitionBy("fp")
    fps = fps.withColumn("df", F.count("*").over(w)).where(
        F.col("df") <= OVERLAP_MAX_DF
    )
    bench = fps.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "fp"
    )
    train = fps.where(F.col("source") != "src0").select("doc_id", "fp")
    return (
        train.join(bench, "fp")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    MinHash-LSH candidate graph (est_sim ≥ 0.5), labeled by the
    minimum doc_id of the component — pair candidates turned into the
    dedup groups a curation pipeline actually consumes (keep one per
    cluster).

    The dedup family's name for :func:`q_cc_star`: the same
    alternating-star components over the identical edge set, checked
    against the same recursive-CTE oracle."""
    return q_cc_star(spark, sf_dir)


# Last star_components run in this process: {rounds, reason}. Read by
# bench.py's cc_stats; purely observational.
LAST_CC_STATS: dict[str, object] = {}


def _iter_session(spark: SparkSession) -> SparkSession:
    """Session clone for iterative algorithms: per-round conf changes
    (shuffle sizing) must not leak into the caller's session."""
    from ..session import scoped

    return scoped(spark)


#: Working sets at or below this row count take the single-partition /
#: AQE-off loop fast path in _size_rounds_to (dim-scale graphs: the
#: 25-node nation graph, k-means centroid updates). ~50k rows of loop
#: state is a few MB — far under even one advisory partition.
ITER_DIM_SIZED_ROWS = 50_000


def _size_rounds_to(spark: SparkSession, n_rows: int) -> None:
    """Size the iteration's shuffle partitions to the measured working
    set (~100k rows/partition, floor 8, capped at the session's
    cluster-sized setting). Iterative rounds run many small jobs; at
    fixture scale 32 near-empty shuffle tasks per round are pure
    scheduling overhead (measured ~35% of q_cc_star cold wall-clock),
    while at real scale the cap keeps the cluster-sized default."""
    try:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        cur = 200
    if n_rows <= ITER_DIM_SIZED_ROWS:
        # Dim-sized working set (r15, guide §2.4): a ≤50k-row loop
        # state fits one shuffle block, so every extra partition is
        # pure task-launch overhead, and AQE's per-Exchange query-stage
        # wall (plan → materialize → re-plan, once per shuffle per
        # round) dominates the round itself. One static partition with
        # AQE off runs the whole loop as a single conventional DAG —
        # measured 8.0 s → 1.4 s on the 4-round Bellman-Ford loop over
        # the 600-edge nation graph, identical results. The threshold
        # keys on the MEASURED working set, so any corpus-scale graph
        # (sf100 CC candidate pairs: 455M) keeps AQE and the sized
        # partitioning below.
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1"
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        return
    parts = max(8, min(cur, n_rows // 100_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # AQE's initialPartitionNum (512 session-wide, r7) supersedes the
    # static setting as the STARTING count — without pinning it too,
    # every loop round pays 512-way map output + coalesce overhead,
    # which re-inflated the iterative family ~2× at fixture scale
    # (the exact overhead this helper exists to remove).
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(parts),
    )


LSH_VERIFY_MIN = 0.5  # exact-Jaccard acceptance threshold


def q_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup detection — the production shape: LSH
    candidate generation (cheap, recall-oriented) followed by EXACT
    3-gram Jaccard verification of only the candidates
    (precision-oriented). Emits every candidate with its sketch
    estimate, exact similarity, and the accept/reject verdict.

    Scale contract: the quadratic verify work is bounded by the
    candidate count (≪ n²), and only candidate docs' shingle sets
    travel through the verify joins — the corpus at large is touched
    once, map-side, to build sets."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    pairs = minhash_pairs(docs)
    sets = docs.select(
        "doc_id", shingles(F.split("text", " ")).alias("sh")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.round(inter / union + 1e-9, 4)
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_sim",
            jac.alias("jaccard"),
            (jac >= LSH_VERIFY_MIN).alias("verified"),
        )
    )


def q_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) over the same MinHash-LSH dup graph as
    :func:`q_dup_clusters`, which runs this same query.

    Star rounds need O(log diameter) rounds where min-label
    propagation needs O(diameter) (a path-shaped component of length L
    takes L label rounds): every round re-points each node at its
    neighborhood minimum. Each phase is one window-min over the node
    key + an edge rewrite — no collect, no driver-side graph.

    - large-star(u): for neighbors v > u, emit (v, min Γ⁺(u));
    - small-star(u): for neighbors v < u plus u itself, emit
      (v, min Γ⁺(u)).

    The undirected edge set is canonicalized (a < b, no self-loops,
    distinct) and checkpointed per round via
    ``storage.iter_checkpoint`` (lazily — the round's convergence
    signature is the materializing action), so the returned labels
    read a checkpointed scan instead of stacking every round's joins,
    and unlike persist() no CacheManager entry outlives the call.
    Convergence = the canonical set's (count, hash) signature
    repeating. At the fixpoint every component is a star centered on
    its minimum, so the label read-off is a single grouped min. The
    DuckDB oracle computes the same fixpoint as a recursive CTE over
    the identical edge SQL. ``canonical=True``: minhash_pairs emits a
    unique doc_a < doc_b set by construction (first-collision-band
    dedup)."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_pairs(parallelize(docs, spark)).where(
        F.col("est_sim") >= 0.5
    )
    return star_components(spark, docs.select("doc_id"), pairs, canonical=True)


def star_components(
    spark: SparkSession,
    nodes: DataFrame,
    pairs: DataFrame,
    canonical: bool = False,
) -> DataFrame:
    """Alternating-star connected components (the q_cc_star loop,
    shared by q_dup_clusters and q_entity_resolution): O(log
    diameter) rounds, safe for the long path-shaped match chains that
    SNM windows build (near-duplicates chained hundreds deep).
    ``nodes``: (doc_id), unique; ``pairs``: (doc_a, doc_b), both ends
    in ``nodes``. Returns (doc_id, cluster_id = component min).

    ``canonical=True`` asserts the caller's pairs are already unique
    with doc_a < doc_b (true for :func:`minhash_pairs`, whose
    first-collision-band dedup makes its union a set) and skips the
    canonicalization ``distinct()`` — at sf100 that exchange carried
    the whole candidate graph a second time before round one."""
    spark = _iter_session(spark)
    edges = pairs.select(
        F.least("doc_a", "doc_b").alias("a"),
        F.greatest("doc_a", "doc_b").alias("b"),
    ).where(F.col("a") != F.col("b"))
    if not canonical:
        edges = edges.distinct()
    edges = iter_checkpoint(edges)
    _size_rounds_to(spark, edges.count())

    def sym(e: DataFrame) -> DataFrame:
        # One explode, not a self-union (r16, guide §2.4): inside a
        # composite round the small star's input is the UNCHECKPOINTED
        # large-star pipeline, and a union re-executes that whole
        # subtree (window + exchange) once per branch — up to 4
        # evaluations of the large star per round once the old
        # small-star union doubled it again. Explode emits both
        # directions in one pass over one evaluation.
        return e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("p")
        ).select("p.a", "p.b")

    def star(e: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
        s = sym(e)
        w = Window.partitionBy("a")
        with_m = s.withColumn(
            "m", F.least(F.min("b").over(w), F.col("a"))
        )
        if large:
            out = with_m.where(F.col("b") > F.col("a")).select(
                F.col("b").alias("u"), F.col("m").alias("v")
            )
        else:
            # Small star emits (b, m) for neighbors b < a AND (a, m)
            # for every row — formerly a union whose branches each
            # re-ran the window subtree; same multiset via one
            # conditional explode over ONE window pass.
            uv = lambda x: F.struct(  # noqa: E731
                F.col(x).alias("u"), F.col("m").alias("v")
            )
            out = with_m.select(
                F.explode(
                    F.when(
                        F.col("b") < F.col("a"), F.array(uv("b"), uv("a"))
                    ).otherwise(F.array(uv("a")))
                ).alias("p")
            ).select("p.u", "p.v")
        out = out.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        ).where(F.col("a") != F.col("b"))
        # Duplicate edges don't change a neighborhood MINIMUM, so the
        # intermediate large-star result skips its distinct (one fewer
        # Exchange per round); only the round's final (small-star)
        # output canonicalizes, which also keeps the convergence
        # signature computed over a true set.
        return out.distinct() if dedup else out

    def signature(e: DataFrame):
        # set signature = (count, XOR of per-edge xxhash64): order-
        # independent, collision odds ~2⁻⁶⁴, and — unlike the weighted
        # SUM this replaced — incapable of overflow (r7: at sf100 the
        # sum of a·1000003+b tripped ANSI ARITHMETIC_OVERFLOW once the
        # edge count crossed ~10⁶ at 5M-wide doc ids). XOR cancellation
        # needs duplicate rows; the edge set is distinct by
        # construction.
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        return (row.n, row.h)

    prev = signature(edges)
    for rnd in range(15):
        edges = star(
            star(edges, large=True, dedup=False), large=False
        )
        edges = iter_checkpoint(edges, eager=False)
        cur = signature(edges)
        if cur == prev:
            LAST_CC_STATS.update(rounds=rnd + 1, reason="converged")
            break
        prev = cur
    else:
        raise RuntimeError("cc_star: no fixpoint in 15 rounds")

    # Each node labels itself; at the fixpoint every component is a
    # star on its minimum, so the grouped min over self ∪ neighbors is
    # the component minimum — a union, not a join back to the nodes,
    # so the result reads only the checkpointed edges and the nodes.
    return (
        nodes.select(F.col("doc_id").alias("a"), F.col("doc_id").alias("b"))
        .union(sym(edges))
        .groupBy("a")
        .agg(F.min("b").alias("cluster_id"))
        .withColumnRenamed("a", "doc_id")
    )


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH sign-off metric — the dedup twin of q_ann_recall: ground
    truth = ALL pairs with exact 3-gram Jaccard ≥ 0.5 (the O(n²)
    audit baseline, oracle-recomputed in DuckDB; run on samples at
    production scale, exactly like q_embed_near_dup's exact
    yardstick), next to the fraction the MinHash-LSH band index
    actually surfaces as candidates. With 4 bands × 2 rows the
    theoretical catch rate at J=0.5 is 1−(1−0.25)⁴ ≈ 68% per pair,
    but the fixture's planted duplicates sit at high Jaccard where
    banding is near-certain — measured recall 1.0 at both oracle
    scales; the within-bound boolean asserts ≥ 90%, the number a
    production dedup would alarm on.

    The truth side is NOT all-pairs: it uses the PREFIX FILTER
    (AllPairs/PPJoin, WWW'07) — under a global token order, two sets
    with Jaccard ≥ t MUST share an element within each one's first
    |s| − ⌈t·|s|⌉ + 1 sorted tokens, so candidates come from an
    equi-join on exploded prefixes and only candidates pay the exact
    intersection (measured 32 s all-pairs → ~3 s at sf0.1, same
    answer by the completeness lemma — the third
    bound-the-blocking-error design next to the LSH pigeonhole and
    the spatial stencil).

    The eval runs on a FIXED-SIZE audit panel (doc_id < 2000): at the
    correctness fixtures' scales the panel IS the whole corpus, and at
    any larger scale it bounds the quadratic yardstick to a constant —
    enforcing in code what "run the exact baseline on samples" means
    (an unbounded version measured 382 s at sf1; the panel is ~3 s at
    every scale).

    Emits one row: (n_truth_pairs, recall_ok)."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark).where(
        F.col("doc_id") < 2000
    )
    sh = docs.select(
        "doc_id",
        F.array_sort(
            F.transform(
                shingles(F.split("text", " ")),
                lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast(
                    "long"
                ),
            )
        ).alias("s"),
    ).where(F.size("s") > 0)
    prefix_len = F.size("s") - F.ceil(F.size("s") * 0.5).cast("int") + 1
    pref = sh.select(
        "doc_id", "s", F.explode(F.slice("s", 1, prefix_len)).alias("tok")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    truth = cand.select(
        "doc_a",
        "doc_b",
        (
            F.size(F.array_intersect("sa", "sb"))
            / F.size(F.array_union("sa", "sb"))
        ).alias("j"),
    ).where(F.col("j") >= 0.5)
    cands = (
        minhash_pairs(docs.select("doc_id", "text"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    scored = truth.join(
        cands.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    return scored.agg(
        F.count("*").alias("n_truth_pairs"),
        (
            F.count_if(F.col("hit").isNotNull())
            >= F.ceil(F.count("*") * 0.9)
        ).alias("recall_ok"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document over distinct unigram hashes:
    bit_j = sign of Σ ±1 weighted by hash bit j."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    hs = F.transform(
        F.array_distinct(F.split("text", " ")), lambda t: token_hash(t)
    )
    with_h = docs.select("doc_id", hs.alias("hs"))
    def bit_sum(j: int) -> Column:
        # closure (not a default arg): pyspark dispatches on lambda
        # arity, so the merge lambda must be exactly binary
        return F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    bit_sums = [bit_sum(j) for j in range(SIMHASH_BITS)]
    simhash = None
    for j, s in enumerate(bit_sums):
        term = F.when(s > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return with_h.select("doc_id", simhash.cast("long").alias("simhash"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for consecutive doc pairs — the
    verify-stage companion to LSH candidate generation."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    sh = docs.select("doc_id", shingles(F.split("text", " ")).alias("s"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    pairs = a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb")).cast("double")
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(inter / union + 1e-9, 4).alias("jaccard"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: left-fold polynomial hash
    over token hashes — (acc*31 + h) % P, init 7."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    hs = F.transform(F.split("text", " "), lambda t: token_hash(t) % P)
    fp = F.aggregate(
        hs, F.lit(7).cast("long"), lambda acc, h: (acc * 31 + h) % P
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# DuckDB oracles (generated to share the exact constants)
# ---------------------------------------------------------------------------

_TOKS = "string_split(text, ' ')"
_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_TOKS}) - 1), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]))"
)
_H = "CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)"
_SHINGLE_HASHES = f"list_transform({_SHINGLES}, s -> {_H} % {P})"
_SIG_COMPONENTS = ", ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS m{i}"
    for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
)


def minhash_pairs_sql(src: str) -> str:
    """DuckDB SELECT producing (doc_a, doc_b, est_sim) MinHash+LSH
    candidate pairs over relation ``src`` (needs doc_id, text) — the
    oracle twin of :func:`minhash_pairs`, sharing its constants.
    Embeddable as a derived table: ``FROM (<minhash_pairs_sql(...)>)``.
    """
    return f"""
WITH hsh AS (
  SELECT doc_id, {_SHINGLE_HASHES} AS hs FROM {src}
), sig AS (
  SELECT doc_id, {_SIG_COMPONENTS},
         [{", ".join(f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P}))" for a, b in zip(MINHASH_A, MINHASH_B))}] AS sig
  FROM hsh
), bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_idx, m{i * 2} AS h0, m{i * 2 + 1} AS h1, sig FROM sig" for i in range(N_HASHES // BAND_ROWS))}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.h0 = b.h0 AND a.h1 = b.h1
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(1, 9), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 8
         AS est_sim
FROM pairs
"""


_MINHASH_SQL = minhash_pairs_sql("documents")

# Boilerplate-cleaned corpus as a derived table: plant the per-class
# 5-line chrome block (identical literals to web.plant_boilerplate
# n_lines=5), detect corpus-frequent 4-token pseudo-lines, strip them,
# and reassemble (doc_id, text) — independently recomputing the FULL
# q_minhash_clean composition before the shared minhash SQL runs on it.
_CHROME_SQL = " || ".join(
    ["'subscribe to site' || CAST(doc_id % 5 AS VARCHAR) || ' now '"]
    + [
        f"'chrome{j} site' || CAST(doc_id % 5 AS VARCHAR) || ' banner now '"
        for j in range(1, 5)
    ]
)

# Oracle chunk-unroll bound: the Spark side chunks documents without
# limit, the SQL unroll must cover every chunk or silently diverge
# (ADVICE r9). 1024 chunks = 4096 tokens, ~40x the fixture generator's
# ~100-token document bound; q_minhash_clean raise_errors on any
# document past it so a fixture change can never diverge quietly.
_CLEAN_MAX_CHUNKS = 1024
_CHUNK_TOKENS = 4  # pseudo-line width, = web._LD_CHUNK

_CLEAN_DOCS_SQL = f"""(
  WITH aug AS (
    SELECT doc_id, {_CHROME_SQL} || text AS text
    FROM documents
  ), toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM aug
  ), chunks AS (
    SELECT doc_id, i.i AS idx,
           array_to_string(t[i.i * 4 + 1 : i.i * 4 + 4], ' ') AS line
    FROM toks CROSS JOIN range({_CLEAN_MAX_CHUNKS}) i(i)
    WHERE i.i < CAST(ceil(len(t) / 4.0) AS INTEGER)
  ), dfreq AS (
    SELECT line, count(DISTINCT doc_id) AS df FROM chunks GROUP BY line
  ), n AS (SELECT count(*) AS n_docs FROM documents),
  boiler AS (
    SELECT line FROM dfreq, n WHERE df * 20 > n_docs
  )
  SELECT doc_id,
         coalesce(string_agg(line, ' ' ORDER BY idx)
                    FILTER (WHERE line NOT IN (SELECT line FROM boiler)),
                  '') AS text
  FROM chunks
  GROUP BY doc_id
) cleaned_docs"""

_MINHASH_CLEAN_SQL = minhash_pairs_sql(_CLEAN_DOCS_SQL)

_SIMHASH_BIT_SUMS = ", ".join(
    f"list_sum(list_transform(hs, h -> ((h >> {j}) & 1) * 2 - 1)) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)

_SIMHASH_SQL = f"""
WITH hsh AS (
  SELECT doc_id,
         list_transform(list_distinct({_TOKS}),
                        s -> {_H}) AS hs
  FROM documents
), sums AS (
  SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM hsh
)
SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM sums
"""

_NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS s FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) + 1e-9, 4) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""

_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_concat([CAST(7 AS BIGINT)],
                     list_transform({_TOKS}, s -> {_H} % {P})),
         (acc, h) -> (acc * 31 + h) % {P}) AS fingerprint
FROM documents
"""

_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({_MINHASH_SQL})
  WHERE est_sim >= 0.5
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM ({_MINHASH_SQL})
  WHERE est_sim >= 0.5
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""

_OVERLAP_SQL = f"""
WITH fps AS (
  SELECT doc_id, source, unnest(
    CASE WHEN len(hs) = 0 THEN []
         WHEN len(hs) < 4 THEN [list_min(hs)]
         ELSE list_distinct(list_transform(range(1, len(hs) - 2),
                                           i -> list_min(hs[i:i+3])))
    END) AS fp
  FROM (
    SELECT doc_id, source,
           CASE WHEN len(ws) < 3 THEN []
                ELSE list_transform(range(1, len(ws) - 1),
                       i -> CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]
                              || ' ' || ws[i+2]), 1, 15) AS BIGINT)
                            % 1000000007)
           END AS hs
    FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)
  )
), filt AS (
  SELECT * FROM (
    SELECT doc_id, source, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps
  ) WHERE df <= {OVERLAP_MAX_DF}
)
SELECT t.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_shared
FROM filt t JOIN filt b ON t.fp = b.fp
WHERE b.source = 'src0' AND t.source <> 'src0'
GROUP BY 1, 2
HAVING count(*) >= 2
"""

_LSH_VERIFIED_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS s FROM documents
)
SELECT p.doc_a, p.doc_b, p.est_sim,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) + 1e-9, 4)
         AS jaccard,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) + 1e-9, 4)
         >= {LSH_VERIFY_MIN} AS verified
FROM ({_MINHASH_SQL}) p
JOIN sh a ON a.doc_id = p.doc_a
JOIN sh b ON b.doc_id = p.doc_b
"""

ORACLE: dict[str, str] = {
    "q_winnow": _WINNOW_SQL,
    "q_overlap_join": _OVERLAP_SQL,
    "q_lsh_recall": f"""
        WITH sh AS MATERIALIZED (
          SELECT doc_id, {_SHINGLES} AS s FROM documents
          WHERE doc_id < 2000
        ), truth AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        )
        SELECT count(*) AS n_truth_pairs, true AS recall_ok FROM truth
    """,
    "q_cc_star": _DUP_CLUSTERS_SQL,
    "q_lsh_verified": _LSH_VERIFIED_SQL,
    "q_dup_clusters": _DUP_CLUSTERS_SQL,
    "q_minhash_lsh": _MINHASH_SQL,
    "q_minhash_clean": _MINHASH_CLEAN_SQL,
    "q_simhash": _SIMHASH_SQL,
    "q_ngram_jaccard": _NGRAM_JACCARD_SQL,
    "q_fingerprint": _FINGERPRINT_SQL,
}
