"""ANN quality gates (VERDICT r01 item 6): trained-centroid IVF must beat
placeholder recall and multi-probe must not hurt."""

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _recall_maps(rows):
    d = {}
    for r in rows:
        d.setdefault(r.query_id, set()).add(r.neighbor_id)
    return d


def _duck(embeddings=None):
    """DuckDB connection with an `embeddings` view: the fixture parquet, or
    the given (vec_id, embedding) rows as BIGINT / DOUBLE[]."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    if embeddings is None:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/embeddings.parquet')"
        )
    else:
        con.register(
            "embeddings",
            pa.table(
                {
                    "vec_id": pa.array([i for i, _ in embeddings], pa.int64()),
                    "embedding": pa.array(
                        [[float(x) for x in v] for _, v in embeddings],
                        pa.list_(pa.float64()),
                    ),
                }
            ),
        )
    return con


def _rank_key(rows):
    return sorted((int(q), int(r), int(n)) for q, n, r in rows)


def _sql_bruteforce(k: int, nq: int) -> str:
    """Exact cosine top-k of the first `nq` vectors, the knn_bruteforce
    oracle with its own k."""
    import __spark_entry__ as e

    cos = e._sql_cosine("q.embedding", "c.embedding")
    return f"""
        SELECT query_id, neighbor_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY {cos} DESC, c.vec_id ASC) AS rank
          FROM embeddings q, embeddings c WHERE q.vec_id < {nq})
        WHERE rank <= {k}"""


def test_ivf_recall_vs_bruteforce(spark):
    from image_ocr_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 16)
    bf = _recall_maps(brute_force_topk(emb, q, k=5).collect())
    iv2 = _recall_maps(
        ivf_topk(emb, q, num_centroids=8, nprobe=2).collect()
    )
    iv1 = _recall_maps(
        ivf_topk(emb, q, num_centroids=8, nprobe=1).collect()
    )
    rec2 = sum(len(bf[i] & iv2.get(i, set())) / 5 for i in bf) / len(bf)
    rec1 = sum(len(bf[i] & iv1.get(i, set())) / 5 for i in bf) / len(bf)
    # a query's own cell is always its top probe -> it must find itself
    assert all(i in iv2.get(i, set()) for i in bf)
    # measured 0.79 @ sf0.01 / 0.66+ @ sf0.001 on random (clusterless)
    # vectors; gate well below to keep the test robust, but far above the
    # ~nprobe/C = 0.25 a broken assignment would produce
    assert rec2 >= 0.5, f"recall@5 collapsed: {rec2}"
    assert rec2 >= rec1 - 1e-9, "multi-probe made recall worse"


def test_kmeans_centroids_deterministic(spark):
    """Integer-exact accumulation: same centroids regardless of input
    partitioning (the property the SQL oracle depends on)."""
    from image_ocr_spark.operators.similarity import kmeans_train

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = kmeans_train(emb.repartition(13), num_centroids=8, iters=2)
    c2 = kmeans_train(emb.coalesce(1), num_centroids=8, iters=2)
    assert len(c1) == 8
    assert c1 == c2  # bitwise-equal doubles


def _boundary_corpus(spark):
    """Three orthogonal clusters + one 0.9999-cosine pair straddling the
    A/B Voronoi boundary (ids 30, 31): each member's nearest centroid
    differs, so single-cell blocking (the r02 design) drops the pair."""
    rows = []
    for i in range(5):
        rows.append((i, [1.0, 0.02 * i, 0.01, 0.0]))          # cluster A
        rows.append((10 + i, [0.02 * i, 1.0, 0.0, 0.01]))     # cluster B
        rows.append((20 + i, [0.01, 0.0, 1.0, 0.02 * i]))     # cluster C
    rows.append((30, [1.0, 0.99, 0.0, 0.0]))   # boundary pair, A side
    rows.append((31, [0.99, 1.0, 0.0, 0.0]))   # boundary pair, B side
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_boundary_near_dup_pair_caught(spark):
    """VERDICT r02 item 1: multi-probe blocking must catch a near-dup pair
    whose members' nearest cells differ; nprobe=1 (the old behavior) must
    demonstrably miss it — that asymmetry is the point of the fix."""
    from image_ocr_spark.operators.similarity import embedding_dup_pairs

    emb = _boundary_corpus(spark)
    pairs2 = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, num_centroids=3, nprobe=2
        ).collect()
    }
    pairs1 = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb, num_centroids=3, nprobe=1
        ).collect()
    }
    assert (30, 31) in pairs2, f"boundary pair missed with nprobe=2: {pairs2}"
    assert (30, 31) not in pairs1, (
        "single-probe caught the boundary pair — the fixture no longer "
        "straddles a boundary and the test is vacuous; rebuild the corpus"
    )
    # multi-probe only ADDS candidates; the verify stage is unchanged
    assert pairs1 <= pairs2


def test_default_num_centroids_scales_sqrt():
    from image_ocr_spark.operators.similarity import default_num_centroids

    assert default_num_centroids(100) == 10
    assert default_num_centroids(1_000_000) == 1000
    assert default_num_centroids(1) == 2  # floor: at least 2 cells


def test_embedding_dup_pairs_sqrt_default(spark):
    """num_centroids=None derives C ~ sqrt(N) and still finds the injected
    exact duplicates (cos_milli = 1000 rows survive any blocking)."""
    from image_ocr_spark.operators.dedup import VARIANT_OFFSET
    from image_ocr_spark.operators.similarity import embedding_dup_pairs
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.select((F.col("vec_id") + VARIANT_OFFSET).alias("vec_id"), "embedding")
    out = embedding_dup_pairs(
        emb.unionByName(dup), num_centroids=None
    )
    n_emb = emb.count()
    exact = {(r.id_a, r.id_b) for r in out.collect() if r.cos_milli == 1000}
    want = {(i, i + VARIANT_OFFSET) for i in range(n_emb)}
    assert want <= exact


def test_kmeans_and_assignment_match_duckdb(spark):
    """The Arrow assignment replays the oracle's fold cosine BIT-exactly:
    kmeans_train's centroids equal the DuckDB k-means chain's (bitwise-equal
    doubles, after the sampled k-means++ init and 2 Lloyd updates), and
    assign_cells_arrow puts every vector in the same nprobe=2 cells as
    _sql_ivf_assign."""
    import pyarrow as pa

    import __spark_entry__ as e
    from image_ocr_spark.operators.similarity import (
        assign_cells_arrow,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = kmeans_train(emb, num_centroids=8, iters=2)
    ctes, final = e._sql_kmeans_chain("embeddings", 8, 2)
    con = _duck()
    want = con.execute(
        "WITH " + ",\n".join(ctes) + f" SELECT cid, centv FROM {final} ORDER BY cid"
    ).fetchall()
    assert cents == [(int(c), list(v)) for c, v in want] and len(cents) == 8

    vecs = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    got = sorted(
        (r.vid, r.cell) for r in assign_cells_arrow(vecs, cents, nprobe=2).collect()
    )
    con.register(
        "c",
        pa.table(
            {
                "cid": pa.array([cid for cid, _ in cents], pa.int64()),
                "centv": pa.array([v for _, v in cents], pa.list_(pa.float64())),
            }
        ),
    )
    assign = con.execute(
        f"SELECT vid, cell FROM {e._sql_ivf_assign('embeddings', 'c', 2)} ORDER BY 1, 2"
    ).fetchall()
    con.close()
    assert got == assign and len(got) == 2 * emb.count()


def test_knn_matches_duckdb(spark):
    """Arrow-scored search (brute force + IVF) returns the oracle's ranked
    neighbor lists: brute-force SQL, and _sql_kmeans_ivf replaying the
    same training, probing and tiebreaks."""
    import __spark_entry__ as e
    from image_ocr_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 16)

    def key(df):
        return sorted((r.query_id, r.rank, r.neighbor_id) for r in df.collect())

    con = _duck()
    got = key(brute_force_topk(emb, q, k=5))
    assert got == _rank_key(con.execute(_sql_bruteforce(5, 16)).fetchall())
    assert len(got) == 16 * 5
    got = key(ivf_topk(emb, q, num_centroids=8, nprobe=2))
    want = con.execute(
        e._sql_kmeans_ivf(k=5, num_centroids=8, iters=2, nprobe=2, nq=16)
    ).fetchall()
    con.close()
    assert got == _rank_key(want) and len(got) > 0


def test_zero_norm_vectors_excluded_not_fatal(spark):
    """Review r3: an all-zero embedding must neither crash the job (Spark 4
    ANSI raises DIVIDE_BY_ZERO even for doubles) nor poison rankings with
    NaN — it is excluded from neighbors and pairs."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.similarity import (
        brute_force_topk,
        embedding_dup_pairs,
    )

    rows = [
        (0, [1.0, 0.1, 0.0, 0.0]),
        (1, [1.0, 0.11, 0.0, 0.0]),
        (2, [0.1, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # degenerate
        (4, [0.0, 1.0, 0.2, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 2)
    top = brute_force_topk(emb, q, k=4).collect()
    assert all(r.neighbor_id != 3 for r in top), top
    assert {r.query_id for r in top} == {0, 1}
    pairs = embedding_dup_pairs(
        emb, num_centroids=2, nprobe=2
    ).collect()
    assert all(3 not in (r.id_a, r.id_b) for r in pairs), pairs
    assert (0, 1) in {(r.id_a, r.id_b) for r in pairs}


def test_arrow_assignment_is_shuffle_free(spark):
    """The corpus->cell assignment must be a scan-stage map (no Exchange):
    the old crossJoin+groupBy(vid) form shuffled k copies of the corpus
    per k-means iteration."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.similarity import (
        assign_cells_arrow,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = kmeans_train(emb, num_centroids=8, iters=1)
    vecs = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    plan = (
        assign_cells_arrow(vecs, cents, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_batched_init_batch1_equals_greedy_sweep(spark):
    """kmeans_batched_init with batch=1 IS the greedy farthest-point sweep
    when the sweep's sample covers the whole corpus: same start (smallest
    non-degenerate vid), same (maxcos, vid) argmin each step, same
    fold-order cosines — the distributed path's correctness anchor."""
    from image_ocr_spark.operators.similarity import (
        kmeans_batched_init,
        kmeanspp_init,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    n = emb.count()
    greedy = kmeanspp_init(emb, 12, sample_size=n)
    batched = kmeans_batched_init(emb, 12, batch=1)
    assert [(i, v) for i, v in greedy] == [
        (i, [float(x) for x in v]) for i, v in batched
    ]


def test_batched_init_driver_work_is_bounded(spark):
    """VERDICT r03 #1 'done' gate: init at large C on a bigger-than-sample
    synthetic corpus completes with O(C*dim) driver traffic and ZERO
    driver-side sweep math — the selection happens in the scan stage
    (_maxcos_update_arrow) + TakeOrdered.  The old sweep at this C would collect
    2*C vectors and run S*C Python cosines."""
    import time

    from image_ocr_spark.operators.similarity import kmeans_batched_init

    n, c = 100_000, 320
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") * (3 + 2 * j) + j) % 97).cast("float") / 97.0
                for j in range(8)
            ]
        ).alias("embedding"),
    )
    t0 = time.time()
    cents = kmeans_batched_init(emb, c)
    wall = time.time() - t0
    assert len(cents) == c
    assert all(len(v) == 8 for _, v in cents)
    # generous budget for the noisy shared host; the point is it finishes
    # in round-count ~C/batch scans, not O(S*C) driver minutes
    assert wall < 240, f"batched init took {wall:.0f}s"


def test_kmeans_train_auto_switches_to_batched_init(spark):
    """Above BATCHED_INIT_THRESHOLD the driver sweep must not run: with
    no Lloyd pass, training at C=150 returns exactly the batched
    farthest-point init (C centroids)."""
    from image_ocr_spark.operators.similarity import (
        kmeans_batched_init,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    trained = kmeans_train(emb, 150, iters=0)
    assert trained == kmeans_batched_init(emb, 150)
    assert len(trained) == 150


def test_kmeans_train_short_circuits_on_convergence(spark):
    """Integer-exact centroids: once an iteration reproduces the previous
    list, extra iters are free (identical result, no extra passes)."""
    from image_ocr_spark.operators.similarity import kmeans_train

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    c9 = kmeans_train(emb, num_centroids=4, iters=9)
    # converges quickly on 64 rows; any iters past the fixpoint must
    # reproduce it exactly (the short-circuit makes them free)
    assert c9 == kmeans_train(emb, num_centroids=4, iters=20)


def test_clustered_corpus_recall_gate(spark):
    """VERDICT r03 item 4 'done' gate: on a realistically CLUSTERED corpus
    the >=900-milli recall@5 gate holds at the production geometry —
    C = sqrt(N) cells and nprobe=2 — where the uniform-random fixture
    needed to probe 2/3 of its cells."""
    import math

    from image_ocr_spark.operators.similarity import (
        ivf_recall_at_k,
        synth_clustered_embeddings,
    )

    ids = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id")
    n = ids.count()
    cemb = synth_clustered_embeddings(ids)
    rows = ivf_recall_at_k(
        cemb,
        cemb.filter(F.col("vec_id") < 16),
        num_centroids=math.isqrt(n),
        nprobe=2,
    ).collect()
    mean = sum(r.recall_milli for r in rows) / len(rows)
    assert mean >= 900, f"clustered recall collapsed: {mean}"


def test_batched_init_first_seed_skips_degenerate_prefix(spark):
    """Review r4: the first seed must be the smallest-vid NON-degenerate
    row over the WHOLE corpus — not just a fixed head window.  With the
    70 smallest vids all zero-norm, the seed comes from beyond them."""
    from image_ocr_spark.operators.similarity import kmeans_batched_seed_ids

    rows = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(70)]
    rows += [(100 + i, [1.0, float(i % 5), 0.5, float(i % 3)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = kmeans_batched_seed_ids(emb, 4, batch=2)
    assert [cid for cid, _ in seeds] == [0, 1, 2, 3]
    assert seeds[0][1] == 100  # smallest non-degenerate vid
    assert all(vid >= 100 for _, vid in seeds)


def test_batched_init_preserves_double_precision(spark):
    """Review r4: the scored relation must pass vectors through in their
    ORIGINAL type — an array<double> corpus must produce seeds bit-equal
    to the full-precision greedy sweep (a float32 re-emit rounded them)."""
    from image_ocr_spark.operators.similarity import (
        kmeans_batched_init,
        kmeanspp_init,
    )

    emb = spark.range(120).selectExpr(
        "id AS vec_id",
        "array(1.0 + id / 97.0, (id % 7) / 13.0, (id % 11) / 31.0, 0.125) "
        "AS embedding",
    )
    greedy = kmeanspp_init(emb, 9, sample_size=120)
    batched = kmeans_batched_init(emb, 9, batch=1)
    assert greedy == [(i, [float(x) for x in v]) for i, v in batched]


def test_batched_seed_oracle_contiguous_on_short_corpus(spark):
    """Review r4: when the corpus has fewer usable rows than
    num_centroids, Spark numbers seeds 0..U-1 contiguously — the DuckDB
    replay must renumber across its under-filled rounds identically."""
    import duckdb

    import __spark_entry__ as entrymod
    from image_ocr_spark.operators.similarity import kmeans_batched_seed_ids

    rows = [(i, [1.0, float(i), 0.25 * i, 1.5]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = kmeans_batched_seed_ids(emb, 32, batch=8)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, [1.0, {float(i)}, {0.25 * i}, 1.5])" for i in range(5)
        )
        + ") AS t(vec_id, embedding)"
    )
    oracle = con.execute(
        entrymod._sql_batched_init_seeds(num_centroids=32, batch=8)
    ).fetchall()
    con.close()
    assert sorted(seeds) == sorted((int(c), int(v)) for c, v in oracle)
    assert [c for c, _ in sorted(seeds)] == [0, 1, 2, 3, 4]


def test_ivf_double_corpus_matches_duckdb(spark):
    """Review r4 follow-through: the Arrow assignment path must pass
    non-float32 vectors through end-to-end (no float32 re-emit), so IVF
    results match the full-precision DuckDB replay.  This corpus is
    array<decimal(28,6)>; both sides score it as the nearest doubles."""
    import __spark_entry__ as e
    from image_ocr_spark.operators.similarity import ivf_topk

    emb = spark.range(150).selectExpr(
        "id AS vec_id",
        "array(1.0 + id / 97.0, (id % 7) / 13.0, (id % 11) / 31.0, 0.625) "
        "AS embedding",
    )
    q = emb.filter(F.col("vec_id") < 8)
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_topk(emb, q, num_centroids=6, nprobe=2).collect()
    )
    con = _duck([(r.vec_id, r.embedding) for r in emb.collect()])
    want = con.execute(
        e._sql_kmeans_ivf(k=5, num_centroids=6, iters=2, nprobe=2, nq=8)
    ).fetchall()
    con.close()
    assert got == _rank_key(want) and len(got) == 8 * 5


def test_embedding_dup_pairs_match_duckdb(spark):
    """The grouped per-cell scorer must reproduce the oracle's candidate
    join + exact-cosine verify (_sql_dedup_embedding) BIT-exactly on the
    duplicate-injected fixture corpus — same pairs, same cos_milli."""
    import __spark_entry__ as e
    from image_ocr_spark.operators.dedup import VARIANT_OFFSET
    from image_ocr_spark.operators.similarity import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.select((F.col("vec_id") + VARIANT_OFFSET).alias("vec_id"), "embedding")
    corpus = emb.unionByName(dup)
    got = {
        (r.id_a, r.id_b): r.cos_milli
        for r in embedding_dup_pairs(
            corpus, num_centroids=8, nprobe=2
        ).collect()
    }
    con = _duck()
    want = con.execute(
        e._sql_dedup_embedding(
            threshold_milli=990, num_centroids=8, iters=1, nprobe=2
        )
    ).fetchall()
    con.close()
    assert got == {(a, b): c for a, b, c in want}
    assert len(got) >= emb.count()  # every injected exact duplicate pairs


def test_grouped_hot_cell_cap_parity(spark):
    """Hot-cell cap (VERDICT r04 item 2): a dup-dense cluster that lands
    one oversized IVF cell must produce the IDENTICAL pair set whether
    scored as one task (max_cell=None) or split into salted sub-block
    pair tasks (max_cell small) — and the capped grouping must actually
    split the hot cell into multiple group keys."""
    from image_ocr_spark.operators.similarity import (
        _dup_pairs_grouped,
        assign_cells_arrow,
        embedding_dup_pairs,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # template cluster: 60% of the corpus is tiny perturbations of one
    # vector (deterministic, integer-milli offsets), rest stays random
    base = emb.filter(F.col("vec_id") < 10)
    n_copies = 30
    copies = base.crossJoin(
        spark.range(n_copies).select(F.col("id").alias("rep"))
    ).select(
        (F.col("vec_id") * 1000 + F.col("rep") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + (F.col("rep") + i % 3).cast("double") / 1e6,
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    kw = dict(num_centroids=6, nprobe=2)

    def pairs(max_cell):
        return {
            (r.id_a, r.id_b): r.cos_milli
            for r in embedding_dup_pairs(
                corpus, max_cell=max_cell, **kw
            ).collect()
        }

    uncapped = pairs(None)
    capped = pairs(32)
    assert capped == uncapped and len(capped) > 0

    # the hot cell REALLY splits: the capped path's distinct
    # (cell, lo, hi) group count must exceed the cell count (a regression
    # that silently computes nsub=1 everywhere would pass pair parity
    # trivially — review r5 finding)
    from image_ocr_spark.operators.similarity import _salted_subblocks

    cents = kmeans_train(corpus, 6, 1)
    assigned = assign_cells_arrow(
        corpus.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v")),
        cents,
        2,
    )
    n_cells = assigned.select("cell").distinct().count()
    m = assigned.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    assert m > 32  # the fixture really produced an oversized cell
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("m"))
    n_groups = (
        _salted_subblocks(assigned, counts, 32)
        .select("cell", "lo", "hi")
        .distinct()
        .count()
    )
    assert n_groups > n_cells  # oversized cells fanned out into sub-blocks
