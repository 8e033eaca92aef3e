"""Scale-shape guarantees for the dedup operators (VERDICT r01 items 4/5):
SimHash bucket key-space is 2^15 per chunk, and n-gram Jaccard candidate
generation is bounded on adversarial common-shingle corpora."""

import pytest
from pyspark.sql import functions as F

from image_ocr_spark.operators.dedup import (
    DEFAULT_SHINGLE_MAX_DF,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
    ngram_jaccard_pairs,
    simhash_arrow,
    simhash_hamming_pairs,
)


def test_simhash_width_and_chunk_keyspace(spark):
    """60-bit fingerprints, 4 chunks of 15 bits: every chunk key must fall
    in [0, 2^15) and fingerprints must use bits above the old 32-bit width
    (the r01 scheme had only 256 buckets per chunk — quadratic candidates)."""
    assert SIMHASH_BITS == 60 and SIMHASH_CHUNKS == 4
    bits_per = SIMHASH_BITS // SIMHASH_CHUNKS
    assert 1 << bits_per == 32768

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta eta theta {i}")
         for i in range(64)],
        "doc_id long, text string",
    )
    fp = simhash_arrow(docs).select("fp").collect()
    fps = [r.fp for r in fp]
    assert all(0 <= v < (1 << SIMHASH_BITS) for v in fps)
    # the widened bits are actually populated (some fp exceeds 32-bit range)
    assert any(v >= (1 << 32) for v in fps)
    # chunk keys stay inside the 15-bit bucket space
    for c in range(SIMHASH_CHUNKS):
        keys = [(v >> (c * bits_per)) & ((1 << bits_per) - 1) for v in fps]
        assert all(0 <= k < 32768 for k in keys)


def test_simhash_near_dup_still_found(spark):
    """Pigeonhole recall sanity after the widening: identical docs pair."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely different words entirely unrelated content here now")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_hamming_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_df_cap_bounds_candidates(spark):
    """Adversarial corpus: every doc shares one boilerplate sentence (a hot
    shingle with df == N).  With the df cap the hot shingles generate NO
    candidate pairs — only genuinely-similar docs (sharing rare shingles)
    come back, and their Jaccard stays exact."""
    n = 40
    boiler = "all rights reserved terms of service privacy policy apply"
    rows = [(i, f"unique{i} body{i} text{i} words{i} " + boiler) for i in range(n)]
    # one true near-dup pair sharing rare shingles
    rows.append((1000, "unique7 body7 text7 words7 " + boiler + " extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = ngram_jaccard_pairs(docs, max_df=4, threshold_milli=300).collect()
    got = {(r.id_a, r.id_b) for r in out}
    # the boilerplate-only overlaps (every (i, j) pair!) must NOT appear
    assert got == {(7, 1000)}

    # without the cap the same corpus yields O(N^2) candidate pairs at the
    # join - prove the cap is what bounds it by counting candidate rows
    uncapped = ngram_jaccard_pairs(docs, max_df=10_000, threshold_milli=0)
    capped = ngram_jaccard_pairs(docs, max_df=4, threshold_milli=0)
    assert uncapped.count() == (n + 1) * n // 2  # every pair is a candidate
    assert capped.count() == 1


def test_ngram_jaccard_value_exact_despite_cap(spark):
    """The df cap prunes candidates only: surviving pairs score with FULL
    shingle sets (array_intersect on the uncapped arrays)."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8"
    b = "w1 w2 w3 w4 w5 w6 w7 zz"
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    row = ngram_jaccard_pairs(docs, threshold_milli=0).collect()[0]
    # trigrams: 6 each, 5 shared -> union 7 -> 5000/7 = 714 milli
    assert (row.id_a, row.id_b, row.jaccard_milli) == (1, 2, 714)


ADVERSARIAL_TEXTS = [
    "",
    " ",
    "   ",
    "one",
    "one two",
    "one two three four five",
    "trailing space ",
    " leading and  doubled  spaces",
    "tab\tand\nnewline mixed",
    "日本語 テキスト の 行 です",
    "short",
    "a b a b a b a b",  # repeated shingles (distinct-order check)
    "x" * 40,            # single long token, no spaces
]


def _signature_cases(spark, documents):
    """(Spark df, DuckDB connection with a `src(doc_id, text)` view over the
    SAME rows) for the fixture documents, then for ADVERSARIAL_TEXTS.  The
    DuckDB side runs the driver oracle's signature SQL, the independent
    reference the Arrow signature batches must reproduce bit for bit."""
    import duckdb
    import pyarrow as pa

    docs = [(r.doc_id, r.text) for r in documents.select("doc_id", "text").collect()]
    for rows in (docs, list(enumerate(ADVERSARIAL_TEXTS))):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        con = duckdb.connect()
        con.register(
            "t",
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in rows], pa.int64()),
                    "text": pa.array([t for _, t in rows], pa.string()),
                }
            ),
        )
        con.execute("CREATE VIEW src AS SELECT doc_id, coalesce(text, '') AS text FROM t")
        try:
            yield df, con
        finally:
            con.close()


def test_minhash_arrow_matches_duckdb(spark, documents):
    """The Arrow+numpy minhash batch must be BIT-identical to the DuckDB
    oracle's minhash SQL — on the real corpus and on adversarial
    whitespace/short/unicode strings."""
    import __spark_entry__ as e
    from image_ocr_spark.operators.dedup import DEFAULT_NUM_PERM, minhash_arrow

    cols = ", ".join(f"s{i}" for i in range(DEFAULT_NUM_PERM))
    sql = f"WITH {e._sql_shingles('src')}, {e._sql_minhash_cte()} SELECT doc_id, {cols} FROM mh"
    for df, con in _signature_cases(spark, documents):
        want = {r[0]: list(r[1:]) for r in con.execute(sql).fetchall()}
        got = {r.id: list(r.sig) for r in minhash_arrow(df).collect()}
        assert got == want and len(got) == df.count()


def test_shingle_hashes_arrow_matches_duckdb(spark, documents):
    """Distinct shingle hash SETS match the oracle's `sh` CTE (DuckDB's
    list_distinct does not keep first-occurrence order, so compare
    sorted)."""
    import __spark_entry__ as e
    from image_ocr_spark.operators.dedup import shingle_hashes_arrow

    sql = f"WITH {e._sql_shingles('src')} SELECT doc_id, hs FROM sh"
    for df, con in _signature_cases(spark, documents):
        want = {d: sorted(hs) for d, hs in con.execute(sql).fetchall()}
        got = {r.id: list(r.hs) for r in shingle_hashes_arrow(df).collect()}
        assert all(len(set(hs)) == len(hs) for hs in got.values())
        assert {d: sorted(hs) for d, hs in got.items()} == want


def test_dedup_components_chain_and_singletons(spark):
    """Min-label propagation: a 6-node chain (diameter 5) collapses to its
    min id, disconnected docs stay singleton clusters."""
    from image_ocr_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (20, 21)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame([(i,) for i in [10, 11, 12, 13, 14, 15, 20, 21, 99]], "id long")
    got = {r.id: r.cluster_id for r in dedup_components(pairs, ids).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
                   20: 20, 21: 20, 99: 99}


def test_dedup_components_long_chain_converges(spark):
    """A 41-node chain (diameter 40 — the shape template boilerplate
    produces) converges well inside max_iters=20: pointer doubling gives
    O(log d) rounds where plain Jacobi min-label needed 40 and raised
    (VERDICT r03 #2c)."""
    from image_ocr_spark.operators.dedup import dedup_components

    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r.id: r.cluster_id for r in dedup_components(pairs, ids).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dedup_components_frees_all_intermediate_storage(spark):
    """After the loop only the RESULT's own checkpoint remains in executor
    storage — per-round caches and superseded checkpoint storage are all
    freed (the r03 leak unpersisted a projection of the cached plan, which
    Spark's CacheManager does not match, leaking one O(N) relation per
    round)."""
    from image_ocr_spark.operators import storage
    from image_ocr_spark.operators.dedup import dedup_components

    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = storage.persisted_ids(sc)
    n = 30  # long enough to cross a checkpoint_interval boundary
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    result = dedup_components(pairs, ids)
    leftover = storage.persisted_ids(sc) - before
    # the result's lineage-free checkpoint is the ONLY new storage
    assert len(leftover) <= 1, f"leaked cached relations: {leftover}"
    assert {r.id: r.cluster_id for r in result.collect()} == {
        i: 0 for i in range(n)
    }


def test_simhash_arrow_matches_duckdb(spark, documents):
    """60-bit SimHash from the Arrow batch == the oracle's token-hash vote
    SQL (_SQL_TH + _SQL_SIMHASH_EXPR)."""
    import __spark_entry__ as e

    sql = (
        f"SELECT doc_id, ({e._SQL_SIMHASH_EXPR})::BIGINT "
        f"FROM (SELECT doc_id, {e._SQL_TH} AS th FROM src)"
    )
    for df, con in _signature_cases(spark, documents):
        want = dict(con.execute(sql).fetchall())
        got = {r.id: r.fp for r in simhash_arrow(df).collect()}
        assert got == want and len(got) == df.count()


def test_winnow_arrow_matches_duckdb(spark, documents):
    """Winnowed Rabin-Karp fingerprints (winnow_arrow) == the oracle's
    _sql_winnow_fps_cte, fingerprint for fingerprint."""
    import __spark_entry__ as e
    from image_ocr_spark.operators.dedup import winnow_arrow

    sql = (
        f"WITH {e._sql_winnow_fps_cte('src')} "
        "SELECT doc_id, unnest(fps) AS fp FROM f"
    )
    for df, con in _signature_cases(spark, documents):
        want = sorted(con.execute(sql).fetchall())
        got = sorted((r.id, r.fp) for r in winnow_arrow(df).collect())
        assert got == want and len({d for d, _ in got}) == df.count()


def test_lsh_hot_bucket_star_edges_preserve_components(spark):
    """VERDICT r03 item 7: a template owning ~30% of docs puts its slice in
    one LSH bucket; max_bucket switches that bucket from an O(hot^2) clique
    to O(hot) star edges.  Connected components — all that dedup clustering
    consumes — must be IDENTICAL, while the emitted pair count collapses."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.dedup import dedup_components, minhash_lsh_pairs

    n, hot = 200, 60
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < hot, F.lit("hot template boilerplate page body")
        )
        .otherwise(
            F.concat(F.lit("unique document text number "), F.col("id").cast("string"),
                     F.lit(" with distinct content words"))
        )
        .alias("text"),
    )
    clique = minhash_lsh_pairs(docs).persist()
    star = minhash_lsh_pairs(docs, max_bucket=16).persist()
    n_clique, n_star = clique.count(), star.count()
    assert n_clique >= hot * (hot - 1) // 2  # the quadratic cliff is real
    assert n_star < n_clique / 10  # star mode collapses it
    ids = docs.select(F.col("doc_id").alias("id"))
    cc_clique = {
        r.id: r.cluster_id
        for r in dedup_components(
            clique.select("id_a", "id_b"), ids
        ).collect()
    }
    cc_star = {
        r.id: r.cluster_id
        for r in dedup_components(star.select("id_a", "id_b"), ids).collect()
    }
    assert cc_clique == cc_star
    assert len({v for k, v in cc_clique.items() if k < hot}) == 1
    clique.unpersist()
    star.unpersist()


def test_dedup_lines_scrubs_boilerplate_keeps_order(spark):
    """Corpus-level line dedup: lines in >max_df docs vanish from ALL docs,
    unique lines survive in original order, all-boilerplate docs come back
    empty (not missing)."""
    from image_ocr_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "NAV\nalpha one\nbeta two\nFOOTER"),
            (2, "NAV\ngamma three\nFOOTER"),
            (3, "NAV\nFOOTER"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r.clean_text for r in dedup_lines(docs).collect()}
    assert got == {
        1: "alpha one\nbeta two",
        2: "gamma three",
        3: "",  # every line was boilerplate -> empty, not missing
        4: "",  # null text -> single '' line, unique -> kept as ''
    }
    # max_df=3: NAV/FOOTER (df=3) survive everywhere
    got3 = {r.id: r.clean_text for r in dedup_lines(docs, max_df=3).collect()}
    assert got3[1] == "NAV\nalpha one\nbeta two\nFOOTER"
    assert got3[3] == "NAV\nFOOTER"


def test_sample_mixture_rates_and_determinism(spark):
    """Mixture sampling: per-group rates hold approximately, unknown
    groups drop entirely, repeated runs pick the IDENTICAL subset, and
    the plan is shuffle-free."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.sampling import sample_mixture

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("xx")
        .alias("lang"),
    )
    out = sample_mixture(docs, {"en": 0.8, "de": 0.2})
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert "xx" not in by_lang  # unknown group -> rate 0
    n_group = 4000 // 3
    assert abs(len(by_lang["en"]) / n_group - 0.8) < 0.05
    assert abs(len(by_lang["de"]) / n_group - 0.2) < 0.05
    again = {r.doc_id for r in sample_mixture(docs, {"en": 0.8, "de": 0.2}).collect()}
    assert again == by_lang["en"] | by_lang["de"]  # deterministic subset
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_dedup_substrings_semantics(spark):
    """Exact substring dedup (Lee et al.-style): a shared 8-token span is
    scrubbed from EVERY occurrence (cross-doc and within-doc) while each
    document's unique text survives; short docs pass through untouched."""
    from image_ocr_spark.operators.dedup import dedup_substrings

    rows = [
        (1, "BOILER PLATE SPAN ONE TWO THREE FOUR FIVE unique tail of doc one here"),
        (2, "different head words BOILER PLATE SPAN ONE TWO THREE FOUR FIVE and more"),
        (3, "totally unique document with no duplicated span inside it at all okay"),
        (4, "rep rep rep rep rep rep rep rep rep rep rep rep"),
        (5, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_substrings(df).collect()}
    assert got[1].clean_text == "unique tail of doc one here"
    assert got[2].clean_text == "different head words and more"
    assert got[3].clean_text == rows[2][1] and got[3].n_dup_windows == 0
    assert got[4].clean_text == "" and got[4].n_dup_windows == 5
    assert got[5].clean_text == "short" and got[5].n_windows == 0


def test_dedup_substrings_pathological_cap(spark):
    """A wall-to-wall-duplicate doc (one token repeated 20k times — every
    window duplicates every other, the O(n^2)-per-row shape) completes in
    bounded time under max_dup_starts and follows the documented
    truncation semantics: the first `cap` sorted starts cover tokens
    0..cap+window-2, the tail is RETAINED (under-deletion), and
    n_dup_windows reports the UNCAPPED count so the capping is
    detectable.  A normal doc in the same corpus is unaffected."""
    from image_ocr_spark.operators.dedup import SUBSTRING_WINDOW, dedup_substrings

    n, cap, w = 20_000, 64, SUBSTRING_WINDOW
    unique = " ".join(f"u{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, " ".join(["tok"] * n)), (1, unique)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in dedup_substrings(df, max_dup_starts=cap).collect()
    }
    assert got[0].n_dup_windows == n - (w - 1)  # uncapped count
    kept = n - (cap + w - 1)
    assert got[0].clean_text == " ".join(["tok"] * kept)
    assert got[1].clean_text == unique and got[1].n_dup_windows == 0


def test_dedup_substrings_shuffle_shape(spark, documents):
    """Window hashing stays in the scan stage; the count agg and the
    dup-start semi-join key on the SAME window hash (no cartesian, no
    sort-merge explosion)."""
    from image_ocr_spark.operators.dedup import dedup_substrings

    df = dedup_substrings(documents.select("doc_id", "text").limit(100))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_checkpoint_scope_releases_without_explicit_calls(spark):
    """storage.scope(): running the iterative-loop operators inside the
    scope frees their checkpoint storage on exit with NO explicit release
    call — and storage held before the scope is untouched."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators import storage
    from image_ocr_spark.operators.dedup import dedup_components
    from image_ocr_spark.operators.linkgraph import host_rank

    sc = spark.sparkContext
    ids = spark.range(60).select(F.col("id"))
    pairs = spark.range(30).select(
        F.col("id").alias("id_a"), (F.col("id") + 30).alias("id_b")
    )
    # pre-scope checkpoint: must SURVIVE the scope exit
    outside = dedup_components(pairs, ids).localCheckpoint(eager=True)
    base = storage.persisted_ids(sc)
    with storage.scope():
        edges = spark.range(40).select(
            F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("src_host"),
            F.concat(F.lit("h"), ((F.col("id") + 1) % 5).cast("string")).alias("dst_host"),
        )
        inner_cc = dedup_components(pairs, ids).collect()
        inner_rank = host_rank(edges, rounds=3).collect()
        assert len(inner_cc) == 60 and len(inner_rank) == 5
        assert storage.persisted_ids(sc) - base, "scope should have held storage"
    after = storage.persisted_ids(sc)
    assert after - base == set(), f"scope leaked storage: {after - base}"
    assert outside.count() == 60  # pre-scope checkpoint still usable
    storage.release()
    # the test made this checkpoint itself: free it here, or Spark's
    # ContextCleaner drops it at some later JVM GC, inside whichever test
    # is counting persisted RDDs then
    storage.free(outside)


def test_ngram_signature_slot_holds_one_call(spark):
    """The one-slot rule: each ngram_jaccard_pairs call frees the previous
    call's signature cache, so calls in a row hold exactly ONE new
    relation — for a repeated plan (whose cache must not be freed with the
    previous holder's) and for a different one; storage.release() frees
    it."""
    from image_ocr_spark.operators import storage

    sc = spark.sparkContext
    storage.release()
    start = storage.persisted_ids(sc)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i % 7} zeta eta") for i in range(20)],
        "doc_id long, text string",
    )
    for i, d in enumerate((docs, docs, docs.filter("doc_id < 10"))):
        assert ngram_jaccard_pairs(d).collect()
        after = storage.persisted_ids(sc)
        assert start <= after and len(after - start) == 1, (i, start, after)
    storage.release()
    assert storage.persisted_ids(sc) == start


def test_no_cached_relation_leaks_after_module(spark, documents):
    """Ungated storage census (VERDICT r04 item 9): after every operator
    that holds storage past its return — dedup_components, host_rank,
    ngram_jaccard_pairs and embedding_dup_pairs — plus the rest of this
    module's dedup battery, ONE storage.release() must leave at most the
    entry module's per-(session, sf) extraction caches behind.  Runs in
    every CI pass — a projection-unpersist leak like r03's
    dedup_components bug fails here even when the env-gated sf0.1/sf1.0
    stress tiers don't run."""
    from image_ocr_spark.operators import storage
    from image_ocr_spark.operators.dedup import dedup_components
    from image_ocr_spark.operators.linkgraph import host_rank
    from image_ocr_spark.operators.similarity import embedding_dup_pairs
    from tests.conftest import SF_DIR

    import __spark_entry__ as e

    ids = spark.range(40).select(F.col("id"))
    pairs = spark.range(20).select(
        F.col("id").alias("id_a"), (F.col("id") + 20).alias("id_b")
    )
    assert dedup_components(pairs, ids).count() == 40
    edges = spark.range(40).select(
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("src_host"),
        F.concat(F.lit("h"), ((F.col("id") + 1) % 5).cast("string")).alias("dst_host"),
    )
    assert host_rank(edges, rounds=2).count() == 5
    ngram_jaccard_pairs(documents.select("doc_id", "text").limit(50)).count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    embedding_dup_pairs(emb, num_centroids=4).count()

    storage.release()
    e.clear_extract_cache()
    leftover = len(storage.persisted_ids(spark.sparkContext))
    assert leftover <= 2, (
        f"{leftover} persisted RDDs remain after storage.release() — "
        "an operator is leaking storage"
    )
