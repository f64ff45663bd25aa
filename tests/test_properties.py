"""Property-based tests (hypothesis) for the engine's algebraic
contracts — the invariants that must hold at ANY scale, checked over
generated inputs rather than one fixture:

- upsert last-wins: idempotent, newest-wins, key-unique (ST6);
- salted aggregation == plain aggregation (salting must be exactly
  algebraic, or skew mitigation silently corrupts results);
- minhash estimated similarity is a valid similarity (range, identity);
- quality score stays in [0, 1] for arbitrary text.

Inputs are small on purpose: these check ALGEBRA, not throughput; the
oracle suite covers volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, version, value) rows; versions may collide across keys
_row = st.tuples(
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=0, max_value=100),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
)


@given(rows=st.lists(_row, min_size=1, max_size=40))
@_settings
def test_last_wins_algebra(spark, rows):
    from block_data_fetcher_spark.etl.load import last_wins

    df = spark.createDataFrame(
        [(k, v, x, i) for i, (k, v, x) in enumerate(rows)],
        "k long, ver long, x double, rid long",
    )
    out = last_wins(df, ["k"], ["ver", "rid"]).collect()
    # one row per key
    assert len(out) == len({r.k for r in out}) == len({k for k, _, _ in rows})
    # the survivor is the max (ver, rid) row of its key
    best = {}
    for i, (k, v, x) in enumerate(rows):
        if k not in best or (v, i) > best[k][:2]:
            best[k] = (v, i, x)
    for r in out:
        assert (r.ver, r.rid, r.x) == best[r.k]
    # idempotence: applying again changes nothing
    again = last_wins(
        spark.createDataFrame(out), ["k"], ["ver", "rid"]
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    ),
    n_salts=st.integers(min_value=1, max_value=8),
)
@_settings
def test_salted_agg_equals_plain(spark, rows, n_salts):
    from block_data_fetcher_spark.storage import salted_sum_count

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v double, rid long"
    )
    salted = {
        r.k: (round(r.sum_v, 6), r.cnt)
        for r in salted_sum_count(df, ["k"], "v", n_salts, "rid").collect()
    }
    plain = {
        r.k: (round(r.s, 6), r.c)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    assert salted == plain


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"),
            min_size=1,
            max_size=60,
        ),
        min_size=2,
        max_size=8,
    )
)
@_settings
def test_minhash_similarity_is_valid(spark, texts):
    from block_data_fetcher_spark.functions.hashing import minhash_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in minhash_pairs(docs).collect():
        assert 0.0 <= r.est_sim <= 1.0
        assert r.doc_a < r.doc_b
    # identical texts in the same bucket estimate similarity 1
    dup = spark.createDataFrame(
        [(0, "x y z w v"), (1, "x y z w v")], "doc_id long, text string"
    )
    pairs = minhash_pairs(dup).collect()
    assert len(pairs) == 1 and pairs[0].est_sim == 1.0


def test_chunking_covers_every_token(spark, sf_dir):
    """Chunk windows must tile each document: first chunk starts at
    token 1, consecutive starts differ by the stride, every token
    index falls in at least one chunk, and only the last chunk may be
    short."""
    from block_data_fetcher_spark.functions.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        q_chunk_docs,
    )
    from block_data_fetcher_spark.catalog import table
    from pyspark.sql import functions as F

    chunks = q_chunk_docs(spark, sf_dir).collect()
    n_tokens = {
        r.doc_id: r.n
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    per_doc: dict[int, list] = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(n_tokens)
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        n = n_tokens[doc_id]
        for r in rows[:-1]:
            assert r.n_chunk_tokens == min(CHUNK_TOKENS, n - r.chunk_idx * CHUNK_STRIDE)
        last = rows[-1]
        # last chunk reaches the final token exactly
        assert last.chunk_idx * CHUNK_STRIDE + last.n_chunk_tokens == n


def test_pii_scrub_is_idempotent_and_complete(spark):
    """Scrubbing must remove every match (a second pass finds
    nothing) and must not invent matches in clean text."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.functions.text import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
    )

    rows = [
        ("mail me at a.b+c@ex-ample.co.uk thanks",),
        ("call 415-555-0199 or 415-555-0200 now",),
        ("served from 192.168.1.254 and 10.0.0.1",),
        ("no pii here at all",),
        ("mixed x@y.io 111-222-3333 8.8.8.8 end",),
    ]
    df = spark.createDataFrame(rows, "t string")
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _PII_IP,
        "[IP]",
    )
    out = df.select(
        "t",
        scrub.alias("s"),
        (
            F.size(F.regexp_extract_all(scrub, F.lit(_PII_EMAIL), 0))
            + F.size(F.regexp_extract_all(scrub, F.lit(_PII_PHONE), 0))
            + F.size(F.regexp_extract_all(scrub, F.lit(_PII_IP), 0))
        ).alias("residual"),
    ).collect()
    for r in out:
        assert r.residual == 0, (r.t, r.s)
    by_t = {r.t: r.s for r in out}
    assert by_t["no pii here at all"] == "no pii here at all"
    assert "[EMAIL]" in by_t["mail me at a.b+c@ex-ample.co.uk thanks"]
    assert by_t["call 415-555-0199 or 415-555-0200 now"].count("[PHONE]") == 2
    assert by_t["served from 192.168.1.254 and 10.0.0.1"].count("[IP]") == 2


def test_embed_near_dup_salted_blocks_exactly_once(spark, sf_dir, monkeypatch):
    """Triangle-block salting must emit every within-cell pair exactly
    once: a hot cell of n identical vectors yields exactly C(n,2)
    pairs at cos_sim 1.0, for any salt count (1 = unsalted plan)."""
    import block_data_fetcher_spark.functions.similarity as sim

    # all 500 sf0.001 vectors collapse into 5 label cells; count pairs
    # per salt setting and require identical results
    results = []
    for s in (1, 4):
        monkeypatch.setattr(sim, "EMBED_BLOCK_SALTS", s)
        rows = sorted(
            (r.vec_a, r.vec_b, r.cos_sim)
            for r in sim.q_embed_near_dup(spark, sf_dir).collect()
        )
        results.append(rows)
    assert results[0] == results[1]
    for va, vb, _ in results[0]:
        assert va < vb


def test_minhash_bucket_cap_equivalence(spark):
    """Adversarial LSH skew (VERDICT r1): hundreds of identical docs
    share every band bucket. The capped path must route those buckets
    through the spill-safe band-keyed self-join and emit EXACTLY the
    same pair set as the uncapped in-memory array path — the cap is a
    physical choice, never a semantic one."""
    from block_data_fetcher_spark.functions.hashing import minhash_pairs

    rows = [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(120)]
    rows += [
        (1000 + i, f"unique document number {i} mentioning token{i * 7} only")
        for i in range(15)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    capped = sorted(
        (r.doc_a, r.doc_b, r.est_sim)
        for r in minhash_pairs(docs, bucket_cap=16).collect()
    )
    uncapped = sorted(
        (r.doc_a, r.doc_b, r.est_sim)
        for r in minhash_pairs(docs, bucket_cap=10**9).collect()
    )
    assert capped == uncapped
    # r8 first-collision dedup: identical docs collide in ALL 4 bands,
    # so any regression in the map-side multi-band dedup shows up here
    # as repeated pairs.
    assert len(capped) == len(set((a, b) for a, b, _ in capped))
    # the identical block is fully paired (C(120,2) pairs at sim 1.0)
    block = [p for p in capped if p[0] < 120 and p[1] < 120]
    assert len(block) == 120 * 119 // 2
    assert all(p[2] == 1.0 for p in block)


@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("the quick brown fox. "), min_size=1, max_size=80),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_quality_score_bounded(spark, texts):
    from block_data_fetcher_spark.functions.text import quality_score

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for r in df.select(quality_score("text").alias("q")).collect():
        assert 0.0 <= r.q <= 1.0


_doc = st.tuples(
    st.text(alphabet=st.sampled_from("abc xyz "), min_size=1, max_size=60),
    st.sampled_from(["en", "de", "zh"]),
)


@given(docs=st.lists(_doc, min_size=1, max_size=20))
@_settings
def test_pack_sequences_conservation(spark, docs):
    """Packing must conserve tokens and docs: per language, the bins
    partition the corpus (sum of bin_tokens == total tokens, sum of
    n_docs == doc count), every bin's doc count >= 1, and bin ids per
    lang form a dense 0..max prefix (contiguous fill never skips)."""
    from block_data_fetcher_spark import pipelines

    df = spark.createDataFrame(
        [(i, t, lang) for i, (t, lang) in enumerate(docs)],
        "doc_id long, text string, lang string",
    )
    df.createOrReplaceTempView("__pack_docs")
    from pyspark.sql import Window, functions as F
    from block_data_fetcher_spark.functions.text import token_count

    w = Window.partitionBy("lang").orderBy("doc_id")
    toks = token_count("text")
    cum = F.sum(toks).over(w)
    out = (
        df.select(
            "lang",
            toks.alias("n_tokens"),
            ((cum - toks) / pipelines.PACK_CAPACITY).cast("long").alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens"))
        .collect()
    )
    per_lang_tokens: dict[str, int] = {}
    per_lang_docs: dict[str, int] = {}
    for t, lang in docs:
        per_lang_tokens[lang] = per_lang_tokens.get(lang, 0) + len(t.split(" "))
        per_lang_docs[lang] = per_lang_docs.get(lang, 0) + 1
    for lang in per_lang_docs:
        rows = [r for r in out if r.lang == lang]
        assert sum(r.bin_tokens for r in rows) == per_lang_tokens[lang]
        assert sum(r.n_docs for r in rows) == per_lang_docs[lang]
        bins = sorted(r.bin for r in rows)
        assert bins == list(range(len(bins)))  # dense prefix
        assert all(r.n_docs >= 1 for r in rows)


@given(docs=st.lists(_doc, min_size=2, max_size=20))
@_settings
def test_decontaminate_partition_property(spark, docs):
    """Clean ∪ contaminated == train, clean ∩ contaminated == ∅, and
    no clean document shares a 5-gram with the benchmark."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (i, t, lang, "src0" if i % 3 == 0 else "srcX")
            for i, (t, lang) in enumerate(docs)
        ],
        "doc_id long, text string, lang string, source string",
    )
    from block_data_fetcher_spark.pipelines import _GRAMS5 as grams5
    bench = df.where(F.col("source") == "src0")
    train = df.where(F.col("source") != "src0")
    bench_grams = {
        g
        for r in bench.select(F.explode(F.expr(grams5)).alias("g")).collect()
        for g in [r.g]
    }
    contaminated = (
        train.select("doc_id", F.explode(F.expr(grams5)).alias("g"))
        .join(
            bench.select(F.explode(F.expr(grams5)).alias("g")).distinct(),
            "g",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    clean_ids = {r.doc_id for r in clean.select("doc_id").collect()}
    bad_ids = {r.doc_id for r in contaminated.collect()}
    train_ids = {r.doc_id for r in train.select("doc_id").collect()}
    assert clean_ids | bad_ids == train_ids
    assert clean_ids & bad_ids == set()
    for r in clean.select(F.explode(F.expr(grams5)).alias("g")).collect():
        assert r.g not in bench_grams


_frag = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=5), min_size=0, max_size=8
)


@given(shared=st.lists(st.text(alphabet="xyz", min_size=1, max_size=5),
                       min_size=6, max_size=6),
       pre_a=_frag, post_a=_frag, pre_b=_frag, post_b=_frag)
@_settings
def test_winnow_guarantee_shared_run_shares_fingerprint(
    spark, shared, pre_a, post_a, pre_b, post_b
):
    """Winnowing's published guarantee (SIGMOD '03): with k=3 grams and
    window w=4, any shared token run of length >= k + w - 1 = 6 leaves
    at least one common fingerprint in both documents."""
    from block_data_fetcher_spark.functions.hashing import _WINNOW
    from pyspark.sql import functions as F

    doc_a = " ".join(pre_a + shared + post_a)
    doc_b = " ".join(pre_b + shared + post_b)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    rows = df.select(
        "doc_id", F.explode(F.expr(_WINNOW)).alias("fp")
    ).collect()
    fps_a = {r.fp for r in rows if r.doc_id == 0}
    fps_b = {r.fp for r in rows if r.doc_id == 1}
    assert fps_a & fps_b, (doc_a, doc_b)


_kv = st.tuples(st.integers(0, 5), st.integers(0, 1000))


@given(facts=st.lists(_kv, min_size=1, max_size=40),
       dims=st.lists(st.integers(0, 5), min_size=1, max_size=6, unique=True))
@_settings
def test_salted_join_equals_plain_join(spark, facts, dims):
    """Salting only re-routes rows: the salted (key, salt) join must
    produce exactly the plain join's multiset of rows."""
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.storage import salted_join

    fact = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(facts)],
        "row_id long, k int, v long",
    )
    dim = spark.createDataFrame([(d, f"d{d}") for d in dims], "dk int, name string")
    plain = sorted(
        tuple(r)
        for r in fact.join(dim, fact.k == dim.dk)
        .select("row_id", "k", "v", "dk", "name")
        .collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_join(fact, dim, "k", "dk", 4, "row_id")
        .select("row_id", "k", "v", "dk", "name")
        .collect()
    )
    assert salted == plain


@given(rows=st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20), st.booleans()),
    min_size=1, max_size=60,
))
@_settings
def test_gap_fill_spine_is_dense_and_conserves_counts(spark, rows):
    """Gap filling must (a) emit one row per user per day of the
    user's span with no holes, and (b) conserve the purchase total."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, u, base + datetime.timedelta(days=d),
         "purchase" if p else "click")
        for i, (u, d, p) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, user_id int, ts timestamp, event_type string"
    )
    span = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d0"),
        F.max(F.date_trunc("day", "ts")).alias("d1"),
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    counts = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    out = spine.join(counts, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce("n", F.lit(0)).alias("n_purchases")
    ).collect()
    spans: dict[int, tuple[int, int]] = {}
    purchases: dict[int, int] = {}
    for i, (u, d, p) in enumerate(rows):
        lo, hi = spans.get(u, (d, d))
        spans[u] = (min(lo, d), max(hi, d))
        if p:
            purchases[u] = purchases.get(u, 0) + 1
    for u, (lo, hi) in spans.items():
        mine = [r for r in out if r.user_id == u]
        assert len(mine) == hi - lo + 1, (u, lo, hi, mine)
        assert sum(r.n_purchases for r in mine) == purchases.get(u, 0)


def test_session_window_consistent_with_sessionize(spark, sf_dir):
    """Two spellings, one semantics: the native session_window operator
    and the manual gaps-and-islands build must agree on the number of
    sessions per user AND on total events covered."""
    from block_data_fetcher_spark import api

    qs = api.queries()
    native = (
        qs["q_session_window"](spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    manual = (
        qs["q_sessionize"](spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in native.collect()}
    want = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in manual.collect()}
    assert got == want


def test_pq_codes_are_argmin(spark, sf_dir):
    """Every PQ code must be the argmin over its subspace codebook:
    re-derive distances for a sample of vectors in plain Python and
    check the assigned code is minimal (ties to lowest code)."""
    from block_data_fetcher_spark.catalog import table
    from block_data_fetcher_spark.functions.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUB,
        _pq_codebook,
    )
    from block_data_fetcher_spark import api

    codebook = _pq_codebook(spark, sf_dir)
    enc = {r["vec_id"]: r["pq_code"] for r in
           api.queries()["q_embed_pq"](spark, sf_dir).collect()}
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, sf_dir, "embeddings").limit(25).collect()
    }
    for vid, x in vecs.items():
        code = enc[vid]
        for m in range(PQ_M):
            got_c = (code // (PQ_K**m)) % PQ_K
            sub = x[m * PQ_SUB : (m + 1) * PQ_SUB]

            def d(c):
                acc = 0.0
                for a, b in zip(sub, codebook[m][c]):
                    acc += (a - b) * (a - b)
                return acc

            best = min(range(PQ_K), key=lambda c: (d(c), c))
            assert got_c == best, (vid, m, got_c, best)


def test_countmin_never_underestimates_adversarial(spark):
    """CM sketch guarantee on adversarial input: a few dominant keys
    plus a long tail — the estimate for EVERY key must be ≥ its exact
    count (underestimation is impossible by construction; this guards
    the bucket arithmetic)."""
    from block_data_fetcher_spark.operators.analytics import CM_D, CM_W

    rows = [(k,) for k in ([7] * 500 + [13] * 300 + list(range(100, 400)))]
    df = spark.createDataFrame(rows, "user_id long")
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(F.xxhash64("user_id", F.lit(r)), F.lit(CM_W)).alias("b"),
                    )
                    for r in range(CM_D)
                ]
            )
        ).alias("rb")
    )
    sketch = {(r["r"], r["b"]): r["cnt"] for r in
              cells.groupBy("rb.r", "rb.b").agg(F.count("*").alias("cnt")).collect()}
    exact = {r["user_id"]: r["n"] for r in
             df.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    probes = df.select("user_id").distinct().select(
        "user_id",
        *[
            F.pmod(F.xxhash64("user_id", F.lit(r)), F.lit(CM_W)).alias(f"b{r}")
            for r in range(CM_D)
        ],
    ).collect()
    for row in probes:
        est = min(sketch[(r, row[f"b{r}"])] for r in range(CM_D))
        assert est >= exact[row["user_id"]], row["user_id"]


def test_bigrams_empty_and_short_text_yield_empty_array(spark):
    """Regression: a document whose text tokenizes to 0 or 1 tokens
    must produce an EMPTY bigram array, not a runtime error — n=0 used
    to feed slice(arr, 1, -1), which Spark rejects at execution."""
    from block_data_fetcher_spark.functions.text import _bigrams

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo"), (4, "two tokens"), (5, "\t\n")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["bg"]
        for r in df.select("doc_id", _bigrams("text").alias("bg")).collect()
    }
    assert rows[1] == [] and rows[2] == [] and rows[3] == [] and rows[5] == []
    assert rows[4] == ["two tokens"]


def test_segmented_folds_match_sequential_on_pathological_user(spark):
    """One user owning 100k events — the round-3 watch-item scenario.
    The segmented EWMA/Holt folds (per-segment affine partials, carry
    composition) must agree with the plain sequential recurrence
    computed driver-side, while never holding more than `seg_size`
    rows in any one array (guaranteed by construction: collect_list
    groups on (user, segment)). Running at seg_size=512 vs one giant
    segment also pins composition-order invariance."""
    import numpy as np

    from block_data_fetcher_spark.operators.analytics import (
        EWMA_ALPHA,
        HOLT_A,
        HOLT_B,
        ewma_segmented,
        holt_segmented,
    )

    n = 100_000
    rng = np.random.default_rng(7)
    vals = rng.uniform(0.0, 1000.0, n).round(2)
    rows = [
        (1, int(i), float(v)) for i, v in enumerate(vals)
    ]  # ts strictly increasing via event_id ordering
    df = (
        spark.createDataFrame(rows, ["user_id", "event_id", "value"])
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1704067200) + F.col("event_id")).cast(
                "timestamp_ntz"
            ),
        )
    )

    # sequential references
    acc = vals[0]
    for x in vals[1:]:
        acc = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * acc
    l, b = vals[0], vals[1] - vals[0]
    for x in vals[2:]:
        nl = HOLT_A * x + (1 - HOLT_A) * (l + b)
        b = HOLT_B * (nl - l) + (1 - HOLT_B) * b
        l = nl
    got_e = ewma_segmented(df, seg_size=512).collect()[0]
    assert got_e["n_events"] == n
    assert abs(got_e["ewma"] - round(acc + 1e-9, 4)) < 1e-6

    got_h = holt_segmented(df, seg_size=512).collect()[0]
    assert abs(got_h["level"] - round(l + 1e-9, 4)) < 1e-6
    assert abs(got_h["trend"] - round(b + 1e-9, 4)) < 1e-6

    # seg_size larger than the data = single segment; must agree
    one_seg = ewma_segmented(df, seg_size=10**9).collect()[0]
    assert one_seg["ewma"] == got_e["ewma"]


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_bpe_merges_match_reference_implementation(spark, words):
    """q_bpe_merges' distributed rounds (pair-count aggregate + greedy
    HOF merge fold) must equal a direct single-process reference BPE
    on the same corpus: same winning pairs, same counts, same
    tie-break."""
    import tempfile

    from block_data_fetcher_spark.functions.text import BPE_ROUNDS, q_bpe_merges

    # reference implementation: per-position pair counts over word
    # frequencies; greedy left-to-right non-overlapping merge apply
    def ref_bpe(freqs: dict[str, int], rounds: int):
        syms = {w: [c for c in w] for w in freqs}
        out = []
        for _ in range(rounds):
            counts: dict[tuple[str, str], int] = {}
            for w, f in freqs.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), cnt = best
            out.append((a, b, cnt))
            for w in syms:
                s, ns, i = syms[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(s[i])
                        i += 1
                syms[w] = ns
        return out

    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    expected = ref_bpe(freqs, BPE_ROUNDS)
    if len(expected) < BPE_ROUNDS:
        return  # corpus ran dry (all 1-symbol words); engine asserts rounds

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, " ".join(words)) for i in range(1)], "doc_id long, text string"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = [
            (r.lhs, r.rhs, r.pair_count)
            for r in q_bpe_merges(spark, d).orderBy("round").collect()
        ]
    assert got == expected, (got, expected)


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_fuzzy_snm_invariants(spark, texts):
    """Sorted-neighborhood fuzzy join: every emitted pair is within
    the distance threshold and same-language; identical-prefix docs
    (sort-adjacent by construction) are always caught; candidate
    count never exceeds N*W."""
    import tempfile

    from block_data_fetcher_spark.functions.text import (
        FUZZY_MAX_DIST,
        FUZZY_PREFIX,
        FUZZY_WINDOW,
        q_fuzzy_match,
    )

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        pairs = q_fuzzy_match(spark, d).collect()

    assert len(pairs) <= len(rows) * FUZZY_WINDOW
    prefix = {i: t[:FUZZY_PREFIX] for i, t in enumerate(texts)}
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert r.dist <= FUZZY_MAX_DIST
    # exact-prefix duplicates are sort-adjacent: every such pair with
    # fewer than FUZZY_WINDOW same-prefix docs between them must appear
    got = {(r.doc_a, r.doc_b) for r in pairs}
    by_prefix: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_prefix.setdefault(prefix[i], []).append(i)
    for ids in by_prefix.values():
        ids.sort()
        for a, b in zip(ids, ids[1:]):
            if ids.index(b) - ids.index(a) <= FUZZY_WINDOW:
                assert (a, b) in got, (a, b, pairs)


def test_star_components_handles_long_paths(spark):
    """The regression behind the sf1 entity-resolution failure: on a
    PATH graph of length L, min-label propagation needs L rounds (and
    escalated at its cap since r8) while alternating-star converges
    in O(log L) — and both must agree with the ground truth on graphs
    where the label loop still converges."""
    from block_data_fetcher_spark.functions.hashing import (
        min_label_components,
        star_components,
    )

    # path 0-1-2-...-39 plus isolated nodes 40..44
    edges = [(i, i + 1) for i in range(39)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(45)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in star_components(spark, nodes, pairs).collect()
    }
    want = {i: 0 for i in range(40)} | {i: i for i in range(40, 45)}
    assert got == want

    # the label loop's former failure mode on the same input: since r8
    # it escalates (contract by partial labels, star-finish) instead
    # of raising, and must land on the identical ground truth
    lab = {
        r["doc_id"]: r["cluster_id"]
        for r in min_label_components(spark, nodes, pairs).collect()
    }
    assert lab == want

    # and agreement on a shallow graph (where both are valid)
    shallow = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    n2 = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
    a = {
        r["doc_id"]: r["cluster_id"]
        for r in star_components(spark, n2, shallow).collect()
    }
    b = {
        r["doc_id"]: r["cluster_id"]
        for r in min_label_components(spark, n2, shallow).collect()
    }
    assert a == b


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=2, max_value=5),
    st.integers(min_value=2, max_value=8),
)
@_settings
def test_sqdist_fold_matches_oracle_fold_at_ties(seed, k, dim):
    """ADVICE r5: centroid assignment must rank near-tied centroids
    the way the DuckDB oracle's list_sum fold does. _sqdist_fold
    accumulates Σ(x−c)² left-to-right, one IEEE add per element —
    bit-identical to a sequential Python fold (the oracle semantics)
    — even for vectors perturbed onto centroid boundaries, where the
    expanded −2x·C+|C|² gemm form may disagree in the last ulp."""
    import numpy as np

    from block_data_fetcher_spark.functions.similarity import _sqdist_fold

    rng = np.random.RandomState(seed % (2**31))
    C = rng.standard_normal((k, dim))
    # points ON and NEAR centroid-pair midpoints (the tie boundary),
    # with escalating tiny perturbations toward either side
    pts = []
    for i in range(k):
        for j in range(i + 1, k):
            mid = (C[i] + C[j]) / 2.0
            pts.append(mid)
            for eps in (1e-16, 1e-12, 1e-9):
                pts.append(mid + eps * (C[j] - C[i]))
                pts.append(mid - eps * (C[j] - C[i]))
    X = np.array(pts)
    got = _sqdist_fold(X, C)
    # the oracle fold: strict left-to-right scalar accumulation
    # NB (p1-p2)*(p1-p2) with explicit multiply, matching the oracle
    # SQL — Python's `** 2` (libm pow) can differ by an ulp
    def term(x, c, d):
        diff = float(x[d]) - float(c[d])
        return diff * diff

    want = np.array(
        [
            [sum(term(x, c, d) for d in range(dim)) for c in C]
            for x in X
        ]
    )
    assert (got == want).all()  # bit-exact, not approx
    assert (np.argmin(got, axis=1) == np.argmin(want, axis=1)).all()

    # the gemm+margin-gated hybrid must give the SAME assignment as
    # the exact fold, on exactly these boundary-tie points (its risky
    # set catches them and re-ranks with the fold)
    from block_data_fetcher_spark.functions.similarity import _argmin_sqdist

    assert (_argmin_sqdist(X, C) == np.argmin(want, axis=1)).all()


def test_spread_sample_hash_overflow_safe_and_engine_identical(spark):
    """The IVF training-sample predicate (ADVICE r6): the spread-sample
    hash must (a) agree between Spark's pmod form and the DuckDB
    double-% idiom for EVERY id, including ids past 3.5e9 where the
    old unreduced product overflowed int64 (Spark wrapped, DuckDB
    raised), and (b) equal the mathematical ((id·h) mod p) wherever
    that product fits in an exact integer."""
    import duckdb

    ids = [
        0,
        1,
        7,
        1000002,
        1000003,
        2**31 - 1,
        3_500_000_000,  # past the old overflow point
        2**40,
        2**62,  # near int64 max after the reduced multiply
    ]
    p, h = 1000003, 2654435761

    sdf = spark.createDataFrame([(i,) for i in ids], "vec_id long").select(
        "vec_id",
        F.pmod(
            F.pmod(F.col("vec_id").cast("long"), F.lit(p)) * F.lit(h),
            F.lit(p),
        ).alias("hv"),
    )
    got_spark = {r["vec_id"]: r["hv"] for r in sdf.collect()}

    con = duckdb.connect()
    got_duck = {}
    for i in ids:
        got_duck[i] = con.execute(
            f"SELECT ((((CAST({i} AS BIGINT) % {p}) + {p}) % {p})"
            f" * {h}) % {p}"
        ).fetchone()[0]
    con.close()

    for i in ids:
        want = (i * h) % p  # Python ints: exact, no overflow
        assert got_spark[i] == want, (i, got_spark[i], want)
        assert got_duck[i] == want, (i, got_duck[i], want)


def test_argmin_hybrid_vs_fold_fixture_near_tie_ensembles():
    """r6 verdict stretch item: the _argmin_sqdist margin gate was
    property-tested on synthetic low-dim ties; pin gemm-vs-fold
    agreement on ADVERSARIAL near-tie ensembles built from the REAL
    embedding fixture (DIM=64, the dimensionality every shipped
    assignment runs at) across 1k random seeds. Each ensemble takes
    real vectors as centroids, projects points onto the bisector
    between their two nearest centroids (the exact tie surface), and
    perturbs by escalating epsilons from below ulp scale to just
    inside the margin gate — the rows where the expanded gemm form is
    most likely to rank differently from the oracle's left-to-right
    fold. The hybrid must return the fold's argmin on every row."""
    import numpy as np
    import pyarrow.parquet as pq

    from block_data_fetcher_spark.functions.similarity import (
        _argmin_sqdist,
        _sqdist_fold,
    )

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet",
        columns=["vec_id", "embedding"],
    )
    X_all = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    n_all, dim = X_all.shape
    assert dim == 64

    disagreements = []
    for seed in range(1000):
        rng = np.random.default_rng(seed)
        k = int(rng.integers(4, 33))
        C = X_all[rng.choice(n_all, size=k, replace=False)]
        base = X_all[rng.choice(n_all, size=16, replace=False)]
        # exact fold distances pick each point's two nearest centroids
        d0 = _sqdist_fold(base, C)
        top2 = np.argsort(d0, axis=1)[:, :2]
        ci, cj = C[top2[:, 0]], C[top2[:, 1]]
        axis = cj - ci
        # project onto the tie bisector: mid + the component of
        # (x - mid) orthogonal to the centroid axis
        mid = (ci + cj) / 2.0
        rel = base - mid
        coef = (rel * axis).sum(1, keepdims=True) / (
            (axis * axis).sum(1, keepdims=True) + 1e-300
        )
        on_tie = base - coef * axis  # equidistant from ci and cj
        pts = [on_tie]
        for eps in (1e-17, 1e-14, 1e-11, 1e-9):
            pts.append(on_tie + eps * axis)
            pts.append(on_tie - eps * axis)
        X = np.vstack(pts)
        want = np.argmin(_sqdist_fold(X, C), axis=1)
        got = _argmin_sqdist(X, C)
        if not (got == want).all():
            disagreements.append((seed, int((got != want).sum())))
    assert not disagreements, (
        f"gemm-hybrid vs exact-fold argmin disagreed on "
        f"{len(disagreements)} seeds: {disagreements[:10]}"
    )


@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("ab "), min_size=0, max_size=40),
        min_size=1,
        max_size=5,
    )
)
@_settings
def test_repetition_top2_equals_bruteforce(spark, texts):
    """r8 sorted-run rewrite of the top-2-gram count: the longest run
    in the sorted gram array must equal the brute-force max gram
    frequency for arbitrary (highly repetitive) token streams."""
    from collections import Counter

    from block_data_fetcher_spark.functions.text import q_repetition_filter  # noqa: F401 (import parity)
    from block_data_fetcher_spark.functions import text as T

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.dup_word_frac, r.top2_frac)
        for r in docs.withColumn("rep", F.expr(T._REPETITION))
        .select("doc_id", "rep.*")
        .collect()
    }
    for i, t in enumerate(texts):
        ws = t.split(" ")
        grams = [" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)]
        want_dup = round(1.0 - len(set(ws)) / len(ws) + 1e-9, 4)
        want_top2 = (
            0.0
            if len(ws) < 2
            else round(
                max(Counter(grams).values()) / (len(ws) - 1.0) + 1e-9, 4
            )
        )
        assert got[i] == (want_dup, want_top2), (t, got[i])


def test_minhash_empty_docs_pair_exactly_once(spark):
    """Empty/1-token docs have all-NULL minhash signatures, which
    groupBy buckets together in EVERY band (null-equals-null grouping).
    The r8 first-collision predicate must mirror that semantics
    (eqNullSafe) and emit the pair exactly once — from band 0."""
    from block_data_fetcher_spark.functions.hashing import minhash_pairs

    docs = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "a normal document with several tokens here")],
        "doc_id long, text string",
    )
    pairs = [
        (r.doc_a, r.doc_b, r.est_sim) for r in minhash_pairs(docs).collect()
    ]
    assert pairs == [(0, 1, 0.0)], pairs


def test_min_label_escalates_past_round_budget(spark):
    """r8 diameter escape hatch: a path graph 4x deeper than the round
    budget must still land on the exact component minimum via the
    contract-then-star escalation (the sf100 q_dup_clusters failure
    mode), and isolated nodes must keep their own label."""
    from block_data_fetcher_spark.functions.hashing import (
        min_label_components,
        star_components,
    )

    n = 40
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(999,)], "doc_id long"
    )
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in min_label_components(spark, nodes, path, max_rounds=3).collect()
    }
    want = {i: 0 for i in range(n)}
    want[999] = 999
    assert got == want
    # and it agrees with the pure star implementation
    star = {
        r.doc_id: r.cluster_id
        for r in star_components(spark, nodes, path, canonical=True).collect()
    }
    assert star == want
    # n_edges fast path (ADVICE r13): a caller that already
    # checkpointed+counted the canonical pairs skips star's own
    # round-zero materialization yet lands on the identical fixpoint
    from block_data_fetcher_spark.functions.hashing import iter_checkpoint

    canon = iter_checkpoint(path)
    n_pairs = canon.count()
    star2 = {
        r.doc_id: r.cluster_id
        for r in star_components(
            spark, nodes, canon, canonical=True, n_edges=n_pairs
        ).collect()
    }
    assert star2 == want


def test_min_label_adaptive_escape_fires_early_on_path(spark):
    """r10 (VERDICT r9 item 6): on a diameter-dominated graph the
    escape must fire from the MEASURED convergence-rate signal (a
    round retiring less than half the previous frontier), well before
    the round budget — not at it — and still land on the exact
    component minimum."""
    from block_data_fetcher_spark.functions import hashing
    from block_data_fetcher_spark.functions.hashing import (
        min_label_components,
    )

    n = 60
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(999,)], "doc_id long"
    )
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in min_label_components(spark, nodes, path).collect()
    }
    want = {i: 0 for i in range(n)}
    want[999] = 999
    assert got == want
    stats = dict(hashing.LAST_CC_STATS)
    assert stats["escaped"] and stats["reason"] == "stalled", stats
    # a 59-deep path under a 12-round budget: the rate signal must cut
    # the label-prop phase to a handful of rounds
    assert stats["rounds"] <= 4, stats


def test_min_label_shallow_graph_converges_without_escape(spark):
    """The adaptive signal must NOT fire on the bounded-diameter
    (LSH-clique-shaped) graphs the fixtures produce — cliques retire
    their whole frontier in one round."""
    from block_data_fetcher_spark.functions import hashing
    from block_data_fetcher_spark.functions.hashing import (
        min_label_components,
    )

    # two 4-cliques plus an isolated node
    edges = [
        (a, b)
        for grp in ([0, 1, 2, 3], [10, 11, 12, 13])
        for a in grp
        for b in grp
        if a < b
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, 12, 13, 99]], "doc_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in min_label_components(spark, nodes, pairs).collect()
    }
    want = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 13: 10, 99: 99}
    assert got == want
    stats = dict(hashing.LAST_CC_STATS)
    assert not stats["escaped"] and stats["reason"] == "converged", stats
    assert stats["algo"] == "label_prop", stats


def test_min_label_routes_to_star_above_edge_threshold(spark, monkeypatch):
    """r13 (VERDICT r12 item 4): above CC_LABEL_PROP_MAX_EDGES
    symmetric edge rows, min_label_components must run alternating-star
    from round one — same fixpoint, no label-prop rounds, no 'escaped'
    stats (the sf100 decade pass burned two stalled label rounds before
    admitting star was the right algorithm)."""
    from block_data_fetcher_spark.functions import hashing
    from block_data_fetcher_spark.functions.hashing import (
        min_label_components,
    )

    edges = [
        (a, b)
        for grp in ([0, 1, 2, 3], [10, 11, 12, 13])
        for a in grp
        for b in grp
        if a < b
    ]
    # reversed + duplicate orientations: the default (non-canonical)
    # path must canonicalize them away — edge_pairs stays 12
    edges += [(1, 0), (13, 12), (2, 3)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 3, 10, 11, 12, 13, 99]], "doc_id long"
    )
    # 12 undirected pairs > 4: routing must fire
    monkeypatch.setattr(hashing, "CC_LABEL_PROP_MAX_EDGES", 4)
    got = {
        r.doc_id: r.cluster_id
        for r in min_label_components(spark, nodes, pairs).collect()
    }
    want = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 13: 10, 99: 99}
    assert got == want
    stats = dict(hashing.LAST_CC_STATS)
    assert stats["algo"] == "star", stats
    assert not stats["escaped"], stats
    assert stats["routed"] == "edge_threshold", stats
    assert stats["edge_pairs"] == 12, stats
