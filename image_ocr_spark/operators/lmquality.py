"""N-gram language-model quality gate — the CCNet-style corpus-frequency
filter (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", LREC 2020) reduced to EXACT INTEGERS so
the DuckDB oracle replays it bit-identically: instead of a KenLM
perplexity (float log-probs — cross-engine libm hazards), a document's
quality signal is its *familiarity*: the fraction of its word bigrams
that appear in the corpus-trained top-V bigram vocabulary, in integer
micro-units.  Low familiarity flags the same tail CCNet's high-perplexity
bucket does (gibberish, boilerplate soup, wrong-language residue) while
keeping the established tri-engine exactness rule.

Scale shape (the 100 TB story):
- training is ONE count shuffle (map-side combined: hot bigrams collapse
  to one row per map partition) followed by a TakeOrdered(V) — no full
  sort, O(V) driver traffic;
- scoring is SHUFFLE-FREE: the vocabulary travels as one Spark broadcast
  (a few MB at V=10^5-10^6) and every row is scored in the scan stage by
  a vectorized Arrow pass — the same ship-the-model-not-the-corpus shape
  as IVF cell assignment (operators/similarity.py).

There is no reference counterpart (the reference has no corpus-level
statistics at all); this is a beyond-reference training-data operator
like dedup/ANN, built from the public CCNet/C4 recipe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from image_ocr_spark.operators.rowmap import map_rows


def bigrams_col(toks: Column) -> Column:
    """array<string> of adjacent word pairs "a b" from a token array.
    Size max(n-1, 0); [] for empty/single-token docs.  transform's lambda
    index is 0-based and element_at is 1-based, so pair i joins token
    i+1 with token i+2 (the DuckDB twin uses 1-based list lambdas:
    ``x || ' ' || toks[i+1]`` over the same slice)."""
    return F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + F.lit(2))),
    )


def train_bigram_vocab(docs: DataFrame, vocab_size: int = 4096) -> DataFrame:
    """(gram, cnt) — the `vocab_size` most frequent word bigrams across
    the docs(text) corpus, ties broken gram-ascending (deterministic, so
    the DuckDB replay selects the identical vocabulary).  Tokens are exact-space
    splits: corpus text is whitespace-collapsed by the extractor, and
    split-on-one-space is the established cross-engine-identical
    tokenization (functions/textstats.py tokens())."""
    toks = F.split(F.col("text"), " ")
    grams = docs.select(F.explode(bigrams_col(toks)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    # orderBy+limit compiles to TakeOrdered — no full sort of the vocab
    return counts.orderBy(F.desc("cnt"), F.asc("gram")).limit(vocab_size)


def familiarity_scores(docs: DataFrame, vocab_size: int = 4096) -> DataFrame:
    """(doc_id, n_grams, n_known, familiarity_micro) — per-document
    bigram familiarity of docs(doc_id, text) against the corpus
    vocabulary, scored in the scan stage with zero shuffle (one broadcast
    of the vocab set).

    familiarity_micro = floor(1e6 * n_known / n_grams), 0 when the doc
    has <2 tokens — exact integers end to end.  The vocabulary is trained
    on ``docs`` itself first (train_bigram_vocab, one collect job).
    """
    vocab = [r.gram for r in train_bigram_vocab(docs, vocab_size).collect()]
    bc = docs.sparkSession.sparkContext.broadcast(frozenset(vocab))

    def score(doc_id, t):
        toks = (t or "").split(" ")
        n = len(toks) - 1
        if n <= 0:
            return [(doc_id, 0, 0, 0)]
        known_set = bc.value
        k = 0
        prev = toks[0]
        for nxt in toks[1:]:
            if prev + " " + nxt in known_set:
                k += 1
            prev = nxt
        return [(doc_id, n, k, (1_000_000 * k) // n)]

    return map_rows(
        docs.select(F.col("doc_id").cast("long"), F.col("text")),
        score,
        "doc_id long, n_grams long, n_known long, familiarity_micro long",
    )


# CCNet's three perplexity buckets, worst to best: the tail is the
# high-perplexity (here: low-familiarity) third that CCNet downsamples
# or drops, the head the most-fluent third it keeps whole.
CCNET_BUCKETS = ("tail", "middle", "head")


def quality_cutoffs(scores: DataFrame, n_buckets: int = 3) -> list:
    """The n_buckets-1 exact type-1 quantile cutoffs of
    ``familiarity_micro``:
    cutoff_j = min{v : #(score <= v) >= ceil(j*N/n_buckets)}.

    Computed from ONE histogram aggregation whose output is bounded by
    the number of DISTINCT score values (familiarity_micro has at most
    10^6+1) — never by N — then cumulated on the driver.  Value-based
    (no per-row rank), so the result is independent of partitioning and
    replayable in closed form by a DuckDB window; score ties land in one
    bucket together (bucket masses are equal up to tie spill, the
    standard quantile-bucketing contract)."""
    if n_buckets < 2:
        raise ValueError("quality_cutoffs needs n_buckets >= 2")
    hist = sorted(
        (r[0], r[1])
        for r in scores.groupBy("familiarity_micro")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    n = sum(c for _, c in hist)
    if n == 0:
        raise ValueError("quality_cutoffs over an empty relation")
    # integer ceil(j*n/n_buckets), exact at any n
    targets = [(j * n + n_buckets - 1) // n_buckets for j in range(1, n_buckets)]
    cutoffs, cum, ti = [], 0, 0
    for v, c in hist:
        cum += c
        while ti < len(targets) and cum >= targets[ti]:
            cutoffs.append(v)
            ti += 1
    return cutoffs


def bucket_label_col(score: Column, cutoffs: list) -> Column:
    """CCNet bucket label for a score given quality_cutoffs(..., 3):
    index = how many cutoffs the score strictly exceeds (0 = tail)."""
    idx = F.lit(0)
    for c in cutoffs:
        idx = idx + (score > F.lit(int(c))).cast("int")
    labels = F.array(*[F.lit(b) for b in CCNET_BUCKETS])
    return F.element_at(labels, idx + F.lit(1))


# kept fraction per bucket: the fluent head whole, the gibberish tail
# decimated
QUALITY_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.1}


def quality_mixture(docs: DataFrame, vocab_size: int = 4096) -> DataFrame:
    """The CCNet selection step end to end: score every document's
    familiarity, split the corpus into head/middle/tail thirds at exact
    corpus quantiles, and keep each bucket at its QUALITY_RATES rate via
    the deterministic hash-threshold rule (operators/sampling.py, salt
    "qmix") — the fluent third kept whole, the gibberish third decimated.

    Returns (doc_id, familiarity_micro, bucket) for kept rows.  Scale
    shape: scoring is scan-stage (broadcast vocab), the cutoffs cost one
    distinct-value histogram, and the final keep/drop is a pure per-row
    filter — no global sort anywhere, resumable by construction.  The
    corpus is scored twice (once into the histogram, once under the
    filter); the second scan is cheaper than materializing per-doc scores
    for a 10^12-row corpus.
    """
    from image_ocr_spark.operators.sampling import sample_mixture

    # both uses below share ONE scores plan
    scores = familiarity_scores(docs, vocab_size)
    cutoffs = quality_cutoffs(scores, len(CCNET_BUCKETS))
    labeled = scores.select(
        "doc_id",
        "familiarity_micro",
        bucket_label_col(F.col("familiarity_micro"), cutoffs).alias("bucket"),
    )
    return sample_mixture(labeled, QUALITY_RATES, group_col="bucket", salt="qmix")
