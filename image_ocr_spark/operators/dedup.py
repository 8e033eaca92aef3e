"""Deduplication operators for web-scale corpora (SURVEY extension; the
training-data-pipeline dedup battery: exact, MinHash+LSH, SimHash, n-gram
Jaccard).

Scale design:
- Signatures (minhash vector, shingle hashes, simhash, winnowed
  fingerprints) are PER-ROW computations with no shuffle; each doc
  computes its signature in the scan stage as an Arrow+numpy batch
  (mapInArrow).  Spark's higher-order array functions are
  CodegenFallback (interpreted per element) and measured 10-20x slower
  than the vectorized batch at sf0.1.  The semantic reference is the
  DuckDB oracle (`__spark_entry__.oracle_sql`), whose signature SQL the
  tests replay against these batches bit for bit.
- Shuffles happen only where semantically required: candidate pairs
  (_pairs_sharing, the one shuffle_hash self-join on a signature key —
  LSH band bucket, SimHash chunk, rare shingle or fingerprint — after an
  optional document-frequency cap), n-gram verification (the candidates
  joined back to their shingle arrays), line and substring dedup
  (groupBy hash).
- Hash primitives are engine-portable: md5-prefix for token/shingle
  hashes (xxhash64/murmur differ across engines; md5 doesn't) and a
  codepoint Rabin-Karp polynomial for the winnowed fingerprints — both
  produce bit-identical values in Spark, DuckDB, and Python.

Determinism: "random" minhash permutations are fixed affine maps
(A[i]*h + B[i]) mod P with constants derived from small primes — embedded
as literals in both engines.

Algorithms: MinHash resemblance sketches (Broder, "On the resemblance and
containment of documents", SEQUENCES 1997) with banded LSH (Leskovec/
Rajaraman/Ullman, MMDS ch.3); SimHash (Charikar, "Similarity estimation
techniques from rounding algorithms", STOC 2002) with the pigeonhole
chunk-bucket candidate scheme of Manku et al., "Detecting near-duplicates
for web crawling", WWW 2007; winnowed fingerprints per Schleimer/Wilkerson/
Aiken, SIGMOD 2003.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from image_ocr_spark.operators import storage
from image_ocr_spark.operators.rowmap import map_batches, map_rows

# 32-bit token/shingle hash, identical in Spark and DuckDB:
#   Spark : conv(substring(md5(s), 1, 8), 16, 10)::long
#   DuckDB: ('0x' || substr(md5(s), 1, 8))::bigint
MERSENNE31 = 2147483647  # modulus for affine permutations

# fixed affine permutation constants (first 16 odd primes / offsets)
PERM_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
PERM_B = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768]

DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 4  # 4 bands x 4 rows
DEFAULT_SHINGLE_N = 3

# SimHash width: 60 bits, not 64 — 15 hex chars of md5 stay inside SIGNED
# 64-bit range in BOTH engines (Spark long and DuckDB ('0x'||hex)::BIGINT
# overflow/flip sign at 16 hex chars), so fingerprints, shifts and xor are
# bit-identical across engines with zero sign gymnastics.  4 chunks of 15
# bits = 32,768 buckets per chunk: at corpus scale each candidate bucket
# holds ~N/32768 docs (vs N/256 with the old 32-bit/8-bit scheme, whose
# candidate join went near-quadratic).
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 3

# id offset for injected duplicate/variant rows in the dedup correctness
# corpora: far above any realistic id (2^40) so injected ids can never
# collide with real ones at any scale factor, while id+offset still sits
# comfortably inside BIGINT
VARIANT_OFFSET = 1 << 40


def hash32(col: Column) -> Column:
    """Deterministic 32-bit string hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash60(col: Column) -> Column:
    """60-bit md5-prefix hash (15 hex chars) — widest md5 prefix that is
    representable as a signed BIGINT in both Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def with_variants(docs: DataFrame) -> DataFrame:
    """Deterministic near-duplicate injection: every doc gets one mutated
    copy (first token replaced) under doc_id + VARIANT_OFFSET.  Used by the
    dedup correctness queries so candidate pairs provably exist; the DuckDB
    oracle constructs the identical corpus."""
    t = F.coalesce(F.col("text"), F.lit(""))
    mutant = docs.select(
        (F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"),
        F.regexp_replace(t, "^[^ ]+", "zzvariant").alias("text"),
    )
    return docs.select("doc_id", t.alias("text")).unionByName(mutant)


def _pairs_sharing(
    keyed: DataFrame,
    keys: list,
    max_df: "int | None" = None,
    sides: "tuple[str, str] | None" = None,
) -> DataFrame:
    """(id_a, id_b, n_shared, <col>_a, <col>_b per carried column): the
    candidate pairs of keyed(id, *keys, *carried) — two ids holding the
    same key, id_a < id_b — with the number of keys they share.  Every
    near-duplicate operator below makes its candidates here.

    ``max_df`` first drops keys held by more than max_df rows, so no
    key's pair fan-out exceeds max_df^2 (a boilerplate key in millions of
    docs would otherwise be one near-quadratic bucket).  The count is a
    window over the keys, so it rides the exchange the self-join needs and
    keyed is computed once; a groupBy count joined back computed it twice
    (two signature passes in fingerprint_match_pairs).

    ``sides`` names two boolean columns of keyed, neither carried: the
    rows that may take the id_a side of a pair, and those that may take
    the id_b side.  Both sides still read the one keyed relation, so its
    exchange is computed once and reused.

    The self-join is hinted shuffle_hash (r07): a broadcast self-join
    evaluates the whole signature pipeline on BOTH sides (there is no
    exchange to reuse), and broadcasting a corpus-sized side fails at
    scale anyway.  Measured 4.7-11.4 s -> 2.2-3.1 s for the n-gram
    candidates at sf0.1 / 16 cores.
    """
    if max_df is not None:
        doc_freq = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        keyed = keyed.withColumn("_df", doc_freq).filter(F.col("_df") <= max_df).drop("_df")
    skip = ["id", *keys, *(sides or ())]
    carried = [c for c in keyed.columns if c not in skip]
    keyed = keyed.hint("shuffle_hash")
    a, b = keyed.alias("a"), keyed.alias("b")
    if sides is not None:
        a, b = a.filter(F.col(f"a.{sides[0]}")), b.filter(F.col(f"b.{sides[1]}"))
    return (
        a.join(
            b,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            + [F.col("a.id") < F.col("b.id")],
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carried],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carried],
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def minhash_lsh_pairs(docs: DataFrame, max_bucket: "int | None" = None) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding over docs(doc_id, text).

    sig -> split into DEFAULT_BANDS bands of DEFAULT_NUM_PERM/DEFAULT_BANDS
    rows -> band bucket key -> the distinct pairs sharing a (band, key)
    bucket (_pairs_sharing).  Bucket sizes are bounded by similarity
    structure (AQE skew-split covers pathological buckets).

    ``max_bucket`` (VERDICT r03 item 7): a boilerplate TEMPLATE owning a big
    slice of the corpus puts its whole slice in ONE band bucket, and the
    clique join then emits O(hot^2) pairs — semantically true pairs (the
    docs really are near-dups) but a wall-clock cliff at corpus scale.
    With max_bucket set, buckets larger than it emit STAR edges instead
    (bucket-min id as hub -> one edge per member): O(hot) rows, and
    connectivity — which is all downstream dedup CLUSTERING
    (dedup_components) consumes — is preserved exactly (a bucket clique and
    its star have identical connected components).  The trade-off is that
    within an oversized bucket only hub-spoke pairs exist for per-pair
    scoring, so keep it None when exact pair LISTS matter and the corpus
    is known template-free (the driver's oracle replays the clique form).
    """
    rows = DEFAULT_NUM_PERM // DEFAULT_BANDS
    sig = minhash_arrow(docs)
    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(DEFAULT_BANDS - 1)),
                lambda b: F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    "_",
                ),
            )
        ).alias("band", "key"),
    )
    sides = None
    if max_bucket is not None:
        # bucket size and hub over the SAME (band, key) partitioning the
        # candidate join needs, so the stats ride the shuffle it needed
        # anyway.  Every member of a bucket of at most max_bucket rows
        # takes the id_a side (the clique); in a larger bucket only the hub
        # does, pairing with each other member (the star).  The hub is its
        # bucket's minimum id, so it is never id_b.
        bucket = Window.partitionBy("band", "key")
        hub = F.min("id").over(bucket)
        sides = ("_as_a", "_as_b")
        banded = banded.select(
            "id",
            "band",
            "key",
            (
                (F.count(F.lit(1)).over(bucket) <= max_bucket) | (F.col("id") == hub)
            ).alias(sides[0]),
            (F.col("id") != hub).alias(sides[1]),
        )
    return _pairs_sharing(banded, ["band", "key"], sides=sides).select("id_a", "id_b")


DEFAULT_SHINGLE_MAX_DF = 64


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold_milli: int = 500,
    max_df: int = DEFAULT_SHINGLE_MAX_DF,
    min_shared: int = 1,
) -> DataFrame:
    """Exact word-trigram Jaccard over candidate pairs of docs(doc_id, text)
    sharing >= min_shared RARE shingles.

    Scale-critical shape: candidate generation equi-joins only shingle
    hashes whose document frequency is <= max_df — a boilerplate shingle
    ("of the and") appearing in millions of docs would otherwise create one
    hot key with a near-quadratic bucket.  Capping df bounds every bucket's
    pair fan-out at max_df^2; a true near-dup pair (jaccard >= 0.5) shares
    half its shingles, so it survives unless EVERY shared shingle is
    corpus-common — the standard df-cap trade-off, mirrored exactly in the
    DuckDB oracle.

    ``min_shared`` prunes candidates BEFORE the verify join hauls each
    pair's full shingle arrays: at sf0.1 requiring >= 3 shared rare
    shingles cut 4.46M candidate pairs to 45k (100x) with no change to
    that corpus's >= 0.5-jaccard result set (its docs carry ~100 shingles,
    so a true pair shares ~50).  RECALL CAVEAT: a SHORT document with
    fewer than ~2*min_shared shingles can have jaccard >= 0.5 while
    sharing < min_shared rare shingles (e.g. two 5-token docs sharing 2 of
    their 3 trigrams = 500 milli) — such pairs are pruned.  The LIBRARY
    default is therefore min_shared=1 (no recall loss, the r02 behavior);
    long-document callers — like the driver's dedup_ngram_jaccard query,
    whose corpus carries ~100 shingles per doc — opt into min_shared=3 for
    the 100x candidate cut (ADVICE r03: a recall regression must not be a
    silent library default).

    The Jaccard value itself stays EXACT: after the capped candidate join,
    each pair's full shingle arrays are re-joined and intersected
    (array_intersect), so max_df affects recall only, never the score.
    """
    sh = shingle_hashes_arrow(docs)
    # the signature relation feeds THREE consumers (candidate explode +
    # both verify sides); without materialization Spark recomputes the
    # signature pass per consumer.  An operator cannot know when its
    # caller's final action ran, so the cache is held in a storage slot:
    # (a) the PREVIOUS call's relation is freed here — a long-lived
    # session issuing many of these queries holds at most one call's
    # signatures, not an unbounded accumulation (ADVICE r03) — and (b)
    # storage.release() frees the last one on demand (unpersist is always
    # correctness-safe: consumers just recompute).
    sh = storage.hold(sh, slot="ngram_sigs").persist()
    cand = (
        _pairs_sharing(sh.select("id", F.explode("hs").alias("h")), ["h"], max_df)
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    paired = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    jac = (F.lit(1000) * inter) / union
    return (
        paired.select("id_a", "id_b", jac.cast("long").alias("jaccard_milli"))
        .filter(F.col("jaccard_milli") >= threshold_milli)
    )


def simhash_hamming_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs of docs(doc_id, text) by SimHash: candidates share at
    least one of SIMHASH_CHUNKS fingerprint chunks (pigeonhole: hamming <=
    SIMHASH_CHUNKS-1 guarantees a shared chunk), verified by exact popcount
    distance <= SIMHASH_MAX_HAMMING.  With 60-bit fingerprints
    each chunk key spans 2^15 buckets, keeping per-bucket candidate counts
    ~N/32768 at corpus scale.  The candidate pairs carry both
    fingerprints (fp_a, fp_b), so the distance check needs no join back."""
    bits_per = SIMHASH_BITS // SIMHASH_CHUNKS
    fp = simhash_arrow(docs)
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("fp"), c * bits_per).bitwiseAND(
                F.lit((1 << bits_per) - 1)
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    chunked = fp.select(
        "id", "fp", F.posexplode(chunk_arr).alias("chunk", "ckey")
    )
    cand = _pairs_sharing(chunked, ["chunk", "ckey"])
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# Document fingerprinting: winnowed rolling k-gram hashes (MOSS-style)
# ---------------------------------------------------------------------------

WINNOW_K = 8   # character k-gram width
WINNOW_W = 4   # winnowing window (guarantee: any match >= k+w-1 chars shares
               # a fingerprint — Schleimer et al., "Winnowing: Local
               # Algorithms for Document Fingerprinting", SIGMOD 2003)
WINNOW_MAX_CHARS = 65536  # EXPLICIT sampling cap: fingerprint the first 64k
                          # chars only, so the per-row arrays stay bounded
                          # for multi-MB documents (a 2 MB page would
                          # otherwise build two ~2M-element arrays per row).
                          # Mirrored verbatim in the DuckDB oracle.
POLY_B = 257              # rolling-hash base; gram hash is the Rabin-Karp
                          # polynomial sum(cp[i+j] * B^j) mod MERSENNE31


FINGERPRINT_MIN_SHARED = 5  # shared fingerprints that make a local match


def fingerprint_match_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >=
    FINGERPRINT_MIN_SHARED winnowed fingerprints — the MOSS-style
    local-match detector over the rolling-hash fingerprints.  Same scale
    shape as ngram_jaccard_pairs: fingerprints with document frequency >
    DEFAULT_SHINGLE_MAX_DF are dropped before the candidate join so
    corpus-common fragments (boilerplate) cannot create hot keys."""
    return _pairs_sharing(winnow_arrow(docs), ["fp"], DEFAULT_SHINGLE_MAX_DF).filter(
        F.col("n_shared") >= FINGERPRINT_MIN_SHARED
    )


# ---------------------------------------------------------------------------
# Arrow+numpy signature batches.  Each replays its DuckDB oracle SQL
# (__spark_entry__: _sql_shingles, _sql_minhash_cte, _SQL_TH +
# _SQL_SIMHASH_EXPR, _sql_winnow_fps_cte) BIT-EXACTLY:
# - token split: Python str.split(" ") == string_split(text, ' ')
#   (both keep interior AND trailing empty strings; "" -> [""])
# - shingle/token hashes: md5-prefix ints, same as hash32/hash60
# - winnow codepoints: ord(c) == ascii() per character (BMP; astral
#   chars are the one documented divergence)
# ---------------------------------------------------------------------------


def _np():
    import numpy as np

    return np


def _id_text(docs: DataFrame) -> DataFrame:
    """(id, t) — the two columns every signature pass reads; null text is ''."""
    return docs.select(
        F.col("doc_id").alias("id"), F.coalesce(F.col("text"), F.lit("")).alias("t")
    )


def _shingle_hash_list(text: str) -> list:
    """Distinct word-trigram shingle md5-prefix hashes (first-occurrence
    order)."""
    import hashlib

    n = DEFAULT_SHINGLE_N
    toks = (text or "").split(" ")
    m = max(1, len(toks) - (n - 1))
    seen = set()
    out = []
    for i in range(m):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16))
    return out


def shingle_hashes_arrow(docs: DataFrame) -> DataFrame:
    """(id, hs array<long>) via mapInArrow: each document's distinct word
    trigram shingle hashes (md5-prefix, first-occurrence order)."""
    return map_rows(
        _id_text(docs),
        lambda i, t: [(i, _shingle_hash_list(t))],
        "id long, hs array<long>",
    )


def minhash_arrow(docs: DataFrame) -> DataFrame:
    """(id, sig array<long>) via mapInArrow: the MinHash signature, the
    min of each fixed affine permutation (A[i]*h + B[i]) mod P over the
    shingle hashes (numpy broadcast over the permutation matrix)."""
    np = _np()
    A = np.array(PERM_A[:DEFAULT_NUM_PERM], dtype=np.int64)[:, None]
    B = np.array(PERM_B[:DEFAULT_NUM_PERM], dtype=np.int64)[:, None]

    def sig(i, t):
        h = np.array(_shingle_hash_list(t), dtype=np.int64)
        return [(i, ((A * h + B) % MERSENNE31).min(axis=1).tolist())]

    return map_rows(_id_text(docs), sig, "id long, sig array<long>")


def simhash_arrow(docs: DataFrame) -> DataFrame:
    """(id, fp) via mapInArrow: the 60-bit SimHash fingerprint.  Bit b is
    set iff the multiplicity-weighted sum of (+1/-1) over the 60-bit
    md5-prefix token hashes' bit b is positive (numpy shifts over the
    token-hash matrix).

    r07 measured 0.69 s here vs 2.16 s for the same votes as Spark array
    expressions (10k sf0.1 docs, 16 cores) — 60 interpreted aggregate
    folds per row dominate, not the md5.  A per-batch token cache
    dedupes md5 calls (natural-language tokens repeat heavily); it lives
    for one batch (rowmap.map_batches), so worker memory stays bounded."""
    import hashlib

    import pyarrow as pa

    np = _np()
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    def fp_of(text: str, cache: dict) -> int:
        toks = (text or "").split(" ")
        cg = cache.get
        hs = []
        for t in toks:
            v = cg(t)
            if v is None:
                v = cache[t] = int(
                    hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16
                )
            hs.append(v)
        h = np.array(hs, dtype=np.int64)
        votes = (((h[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
        return int(((votes > 0).astype(np.int64) << shifts).sum())

    def fn(ids, texts):
        cache: dict = {}
        fps = [fp_of(t, cache) for t in texts.to_pylist()]
        return [ids, pa.array(fps, pa.int64())]

    return map_batches(_id_text(docs), fn, "id long, fp long")


def _winnow_list(text: str, powers) -> list:
    """Sorted distinct winnowed fingerprints of one text.

    Rabin-Karp polynomial hash of every character k-gram (codepoint
    arithmetic, identical integers in DuckDB and Python), then the
    minimum hash of each w-wide window; consecutive windows usually share
    their minimum, so the distinct set is ~2/(w+1) of positions — a
    compact, position-robust fingerprint.  Out-of-range positions (text
    shorter than k) hash as codepoint 0."""
    np = _np()
    k, w = WINNOW_K, WINNOW_W
    s = (text or "")[:WINNOW_MAX_CHARS]
    cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = len(cps)
    n_grams = max(1, n - (k - 1))
    # pad with zeros so short texts match the oracle's coalesce(.., 0)
    if n < n_grams + k - 1:
        cps = np.concatenate([cps, np.zeros(n_grams + k - 1 - n, dtype=np.int64)])
    win = np.lib.stride_tricks.sliding_window_view(cps, k)[:n_grams]
    hs = (win @ powers) % MERSENNE31
    n_win = max(1, n_grams - (w - 1))
    if n_grams >= w:
        mins = np.lib.stride_tricks.sliding_window_view(hs, w)[:n_win].min(axis=1)
    else:
        mins = np.array([hs.min()], dtype=np.int64)
    return np.unique(mins).tolist()


def winnow_arrow(docs: DataFrame) -> DataFrame:
    """(id, fp) exploded winnowed fingerprints, one row per fingerprint."""
    np = _np()
    powers = np.array(
        [pow(POLY_B, j, MERSENNE31) for j in range(WINNOW_K)], dtype=np.int64
    )

    def fps(i, t):
        return [(i, fp) for fp in _winnow_list(t, powers)]

    return map_rows(_id_text(docs), fps, "id long, fp long")


CC_MAX_ITERS = 20
CC_DOUBLING_AFTER = 2


def dedup_components(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """(id, cluster_id) for every id of ids(id): connected components over
    near-dup pairs(id_a, id_b) — the clustering step a real dedup pipeline
    runs AFTER pair generation, so
    each document maps to one cluster representative (the minimum doc id
    in its component; docs with no pairs are their own singleton cluster).

    Algorithm: Jacobi min-label propagation (the standard Spark CC loop,
    cf. GraphFrames' connectedComponents) with a pointer-doubling shortcut
    from round CC_DOUBLING_AFTER on — label(v) <- min over {label(v),
    label(neighbors), label(label(v))}.  The shortcut doubles every node's
    label-jump per round (pointer jumping — the same contraction
    large-star performs in Kiveris et al., "Connected components in
    MapReduce and beyond", SoCC 2014 / HashToMin, Rastogi et al. 2013), so
    convergence is O(log diameter) rounds instead of O(diameter): a
    boilerplate dup CHAIN of length 10^6 converges in ~25 rounds where
    plain Jacobi needs 10^6.  Real dedup graphs are shallow (diameter 1-2),
    so the first CC_DOUBLING_AFTER rounds skip the extra self-join and a
    shallow graph converges at exactly plain-Jacobi cost.  Labels always
    hold an id from the node's own component and only decrease, so the
    fixed point is exactly the plain Jacobi fixed point (component min
    everywhere); if labels still change after CC_MAX_ITERS rounds the loop
    RAISES rather than silently returning split clusters.

    Scale shape (VERDICT r03 #2):
    - the loop runs over TOUCHED nodes only (pair endpoints): at corpus
      scale the dup graph is a sliver of N (at 10^12 docs the pair graph is
      maybe 10^9 nodes), so per-round joins never see the full corpus;
      untouched ids join back as singletons in the returned expression;
    - labels are EAGERLY localCheckpoint'ed EVERY round.  This is not
      optional hygiene: each round's logical plan references the previous
      round's 2-3x (nbr side, left-join side, pointer side), so without
      truncation the plan Catalyst must re-analyze grows ~3^rounds —
      measured 1.5s -> 11s -> 104s per ROUND by iteration 4 at sf0.1, all
      driver-side analysis (persist caches data, never the plan).  The
      checkpoint job doubles as the round's materialization, so the round
      count of Spark jobs is unchanged (checkpoint + changed-count);
    - the previous round's checkpoint STORAGE is freed as soon as the new
      one is materialized (r03 leaked one O(N) cached relation per round
      by unpersisting a projection, which Spark's CacheManager does not
      match to the cached plan).  On return the only storage held is the
      final (touched-node) labels checkpoint, registered with
      operators/storage.py: free it with storage.release() (or run the
      call inside storage.scope()) once the result is consumed.

    Driver traffic per round is ONE scalar (the changed-row count)."""
    # symmetric edge list in ONE pass over pairs (a union of two selects
    # would scan — and for an unpersisted pair plan, recompute — it twice)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )

    # loop state: only nodes that appear in some pair (both directions are
    # in edges, so src alone covers every endpoint)
    labels = ckpt = storage.checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").cast("long").alias("label"))
    )
    converged = False
    for it in range(CC_MAX_ITERS):
        nbr = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(nbr, labels.id == nbr.nid, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                "label"
            ),
            F.coalesce(F.col("nlabel") < F.col("label"), F.lit(False)).alias(
                "_chg"
            ),
        )
        if it >= CC_DOUBLING_AFTER:
            # pointer doubling: label(label(v)) — label(v) is a node id in
            # v's component, so the self-join stays within the component.
            # The pointer side reads the PREVIOUS round's labels (already
            # materialized) rather than `stepped`, and stale-label jumping
            # still contracts label paths geometrically (round k's label
            # already encodes the previous jump, so chasing it through
            # last round's table doubles it again).
            ptr = labels.select(
                F.col("id").alias("pid"), F.col("label").alias("plabel")
            )
            stepped = (
                stepped.alias("s")
                .join(ptr, F.col("s.label") == F.col("pid"), "left")
                .select(
                    F.col("s.id").alias("id"),
                    F.least(
                        F.col("s.label"), F.coalesce("plabel", F.col("s.label"))
                    ).alias("label"),
                    (
                        F.col("s._chg")
                        | F.coalesce(
                            F.col("plabel") < F.col("s.label"), F.lit(False)
                        )
                    ).alias("_chg"),
                )
            )
        new_labels = storage.checkpoint(stepped)
        storage.free(ckpt)
        ckpt = new_labels
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        edges.unpersist()
        storage.free(ckpt)
        raise RuntimeError(
            f"dedup_components did not converge in {CC_MAX_ITERS} rounds — "
            "a component has label-path length > 2^"
            f"{CC_MAX_ITERS - CC_DOUBLING_AFTER}; the pair graph is pathological"
        )
    edges.unpersist()
    # singletons come from the ids scan at read time, so the full O(N)
    # result is never materialized to storage; the only storage held on
    # return is the final touched-node labels checkpoint, held for
    # storage.release() / storage.scope()
    storage.hold(ckpt)
    return (
        ids.select("id")
        .join(labels, "id", "left")
        .select(
            "id",
            F.coalesce("label", F.col("id").cast("long")).alias("cluster_id"),
        )
    )


CONTAMINATION_MIN_OVERLAP = 2  # shared word trigrams that flag a document


def contamination_flags(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """(id, n_overlap): docs(doc_id, text) sharing >=
    CONTAMINATION_MIN_OVERLAP word trigrams with ANY benchmark item — eval-set decontamination, the
    training-data gate
    that keeps test sets out of the corpus (cf. GPT-3 appendix C / PaLM
    §B.3 n-gram overlap decontamination).

    Scale shape: the benchmark side is tiny (eval suites are thousands of
    items) — its distinct shingle hashes BROADCAST; the corpus streams
    through a broadcast hash join in the scan stage, then one groupBy(id)
    counts distinct overlapping shingles.  No corpus self-join anywhere —
    this is a different join geometry from the dedup pair ops.
    """
    doc_sh = shingle_hashes_arrow(docs)
    bench_sh = shingle_hashes_arrow(benchmark)
    bench_grams = (
        bench_sh.select(F.explode("hs").alias("h")).distinct()
    )
    doc_grams = doc_sh.select("id", F.explode("hs").alias("h"))
    hits = doc_grams.join(F.broadcast(bench_grams), "h")
    return (
        hits.groupBy("id")
        .agg(F.count_distinct("h").alias("n_overlap"))
        .filter(F.col("n_overlap") >= CONTAMINATION_MIN_OVERLAP)
    )


def dedup_lines(docs: DataFrame, max_df: int = 1) -> DataFrame:
    """(id, clean_text): corpus-level LINE deduplication of docs(doc_id,
    text) — every line whose hash appears in MORE THAN max_df distinct
    documents is removed from ALL documents, and the surviving lines rejoin in their original order.
    This is the boilerplate-line scrub of C4 ("three-sentence span" dedup's
    line-level cousin) and RefinedWeb/Dolma's exact line dedup: navigation
    bars, cookie banners and footers repeat across a site's every page and
    would otherwise dominate the training distribution.

    Scale shape: posexplode is per-row (scan stage); the document-frequency
    aggregation shuffles once on the line hash with partial aggregation
    (hot boilerplate lines combine map-side, so a line appearing on 10^9
    pages contributes one row per map partition, not 10^9 shuffle rows);
    the removal is a left_anti join on the SAME hash key (no second
    shuffle of the lines); the rebuild groups by doc id (the one unavoidable
    reshuffle, proportional to SURVIVING lines only).  Line identity is the
    engine-portable 60-bit md5-prefix hash — at the corpus scale this
    operator targets, a 32-bit space collides at ~77k distinct lines
    (review r4 finding: a colliding unique line would be silently scrubbed
    everywhere); 2^60 pushes the birthday bound past 10^8 lines."""
    lines = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).withColumn("h", hash60(F.col("line")))
    common = (
        lines.groupBy("h")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )
    kept = lines.join(common, "h", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text")
    )
    # documents whose every line was boilerplate still appear (empty text)
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            "id", F.coalesce("clean_text", F.lit("")).alias("clean_text")
        )
    )


SUBSTRING_WINDOW = 8  # tokens per exact-substring dedup window


def dedup_substrings(docs: DataFrame, max_dup_starts: int = 4096) -> DataFrame:
    """(doc_id, n_tokens, n_windows, n_dup_windows, clean_text): EXACT
    SUBSTRING deduplication at token-window granularity — every token
    of docs(doc_id, text) covered by a SUBSTRING_WINDOW-token span whose hash
    occurs at least twice ANYWHERE in the corpus (across documents or
    repeated within one) is removed from every document, the Spark-first
    graft of the
    suffix-array substring dedup in Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022; they use 50-token
    spans — the window scales with real corpus token counts).  Finer than
    dedup_lines (catches mid-line boilerplate and templated sentences),
    stricter than minhash (exact spans only).

    Scale shape mirrors dedup_lines: window hashing is per-row in the
    scan stage (positions kept); ONE shuffle on the 60-bit window hash
    with map-side combine (a span on 10^9 pages contributes one row per
    map partition); duplicate-window starts come back per doc via a
    semi-join on the SAME key + a per-doc regroup (proportional to DUP
    windows only, not all windows); the rebuild filters tokens against
    the doc's dup-start list per row.  The per-row rebuild is
    O(n_tokens * n_dup_starts), so a wall-to-wall-duplicate doc would
    degrade to O(n^2) per row — ``max_dup_starts`` bounds it: only the
    FIRST ``max_dup_starts`` sorted duplicate starts are applied to the
    rebuild (deterministic truncation; a capped doc UNDER-deletes its
    tail, never over-deletes), while ``n_dup_windows`` still reports the
    uncapped count so capped docs are detectable downstream
    (n_dup_windows > max_dup_starts).  The DuckDB oracle mirrors the
    same list_slice.

    Windows use a \\x01 joiner (cannot appear in whitespace-split
    tokens), so unequal spans can only collide at the 2^60 birthday
    bound (~10^8 distinct spans, the dedup_lines argument)."""
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    base = docs.select(F.col("doc_id").alias("id"), toks.alias("toks"))
    w = SUBSTRING_WINDOW
    idx = F.when(
        F.size("toks") >= w, F.sequence(F.lit(1), F.size("toks") - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    hash60(
                        F.array_join(F.slice("toks", i, w), "\x01")
                    ).alias("h"),
                ),
            )
        ).alias("win"),
    ).select("id", F.col("win.pos").alias("pos"), F.col("win.h").alias("h"))
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("h")
    )
    starts = (
        wins.join(dup, "h", "left_semi")
        .groupBy("id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("pos")), 1, max_dup_starts
            ).alias("ss"),
            F.count(F.lit(1)).alias("n_dup"),
        )
    )
    joined = base.join(starts, "id", "left").select(
        "id",
        "toks",
        F.coalesce("ss", F.array().cast("array<int>")).alias("ss"),
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
    )
    covered = lambda i: F.exists(
        F.col("ss"), lambda s: (s <= i + 1) & (i + 1 < s + w)
    )
    clean = F.array_join(
        F.transform(
            F.filter(
                F.transform("toks", lambda x, i: F.struct(x.alias("x"), i.alias("i"))),
                lambda st: ~covered(st["i"]),
            ),
            lambda st: st["x"],
        ),
        " ",
    )
    return joined.select(
        F.col("id").alias("doc_id"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.greatest(F.lit(0), F.size("toks") - (w - 1))
        .cast("long")
        .alias("n_windows"),
        F.col("n_dup").cast("long").alias("n_dup_windows"),
        clean.alias("clean_text"),
    )
