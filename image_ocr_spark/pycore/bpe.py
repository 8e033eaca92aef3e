"""From-scratch BPE vocabulary learning — pure-Python reference.

Byte-pair-encoding merge learning as in Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units" (ACL 2016): pre-tokenize to
words, start every word as a character sequence, and repeatedly merge the
most frequent adjacent symbol pair.  Industrial trainers (SentencePiece,
HF tokenizers) run this loop over the *word-count table*, not the corpus
— Zipf bounds that table far below corpus size, which is exactly what
makes the Spark twin (operators/bpe.py) a one-shuffle-then-tiny-loop job
at 100 TB.  This module is the single source of truth the Spark operator
and the DuckDB oracle replay are parity-tested against.

The working representation is a padded string: symbols joined by TWO
spaces with one space at each end (``" a  b  c "``), so merging pair
(l, r) is exactly ``str.replace(" l  r ", " lr ")``.  Two-space
separators give consecutive matches their own boundary space, and
replace's greedy leftmost non-overlapping scan (never rescanning
replaced output) is the SAME contract in Python str.replace, Spark's
``F.replace`` and DuckDB's ``replace`` — that shared semantics is what
lets the three engines byte-agree on overlapping runs like ``"aaa"``
(pair ("a","a") merges once, leaving ``" aa  a "``).

Determinism: ties on pair count break by (count DESC, left ASC,
right ASC); symbols are non-space, so string order is code-point order
in all three engines (UTF-8 binary order preserves code points).
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Tuple

# Explicit class, not \s: Java, RE2 and Python disagree on \s's exact
# membership (\x0B, unicode spaces) — the memory rule for tri-engine parity.
WS = re.compile(r"[ \n\t\r]+")

Merge = Tuple[int, str, str, str, int]  # (round, left, right, merged, count)


def word_counts(texts: Iterable[str]) -> Dict[str, int]:
    """Whitespace-word -> occurrence count over the corpus."""
    wc: Dict[str, int] = {}
    for t in texts:
        for w in WS.split(t or ""):
            if w:
                wc[w] = wc.get(w, 0) + 1
    return wc


def to_rep(word: str) -> str:
    """word -> padded two-space-joined character representation."""
    return " " + "  ".join(word) + " "


def learn_bpe(wc: Dict[str, int], rounds: int) -> List[Merge]:
    """The merge table: ``rounds`` rows of (round, left, right, merged,
    pair_count), stopping early only if no adjacent pair remains.  Pair
    counts include overlapping occurrences (standard BPE counts per
    position); the rewrite then merges greedy-leftmost non-overlapping."""
    reps: List[Tuple[str, int]] = [(to_rep(w), c) for w, c in wc.items()]
    merges: List[Merge] = []
    for rnd in range(1, rounds + 1):
        pc: Dict[Tuple[str, str], int] = {}
        for rep, c in reps:
            syms = rep.strip().split("  ")
            for l, r in zip(syms, syms[1:]):
                pc[(l, r)] = pc.get((l, r), 0) + c
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rnd, l, r, l + r, c))
        pat, new = f" {l}  {r} ", f" {l}{r} "
        reps = [(rep.replace(pat, new), cnt) for rep, cnt in reps]
    return merges
