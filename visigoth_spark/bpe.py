"""Byte-pair-encoding token counting — the real-merge upgrade of
``pipeline.token_counts``'s BPE-ish proxy (round-4 verdict task 6).

Token budgets are THE accounting unit of an LLM training pipeline, so the
count has to come from an actual merge table, not a length heuristic. This
module provides:

- ``train_bpe``: the classic BPE trainer (Sennrich et al. 2016,
  "Neural Machine Translation of Rare Words with Subword Units" — public
  algorithm) over a word-frequency table, with a fully deterministic
  tiebreak (max pair count, then lexicographically smallest pair) so the
  frozen merge list is reproducible from the seeded corpus.
- ``apply_bpe`` / ``bpe_token_count``: the reference application used by
  tests — identical semantics to the Spark plan and the DuckDB oracle.
- ``load_merges`` / ``MERGES_FILE``: the frozen merge table committed at
  ``visigoth_spark/bpe_merges.txt`` (trained once by
  ``tools/train_bpe.py`` on the seeded synthetic corpus — no network, no
  external data).

Cross-engine application semantics (the part all three sides must agree
on): a word is spelled as delimited symbols ``<h><o><l><a>`` and the
frozen merges are applied IN RANK ORDER, each as one plain (non-regex)
leftmost non-overlapping replace-all of ``<a><b>`` with ``<ab>``. This
equals the textbook priority-queue application only when no two merges
produce the same symbol — e.g. ``(a, bc)`` and ``(ab, c)`` both make
``abc``. Under that condition a symbol has exactly one producing merge,
which (training creates pairs of already-existing symbols) ranks below
every merge that consumes it, so by the time rank r is processed every
occurrence it could ever match already exists. Without it, the later of
two producers can create a symbol after a lower-ranked merge consuming it
has already been folded, and the fold misses that merge. The frozen table
meets the condition (tests/test_bpe.py checks it). The delimited spelling makes the string replace safe against cross-symbol
false matches (``<b><b>`` never matches inside ``<ab><b>``) and the
replace-all scan reproduces the left-to-right non-overlapping pass on
repeats (``<a><a><a><a>`` -> ``<aa><aa>``). Python ``str.replace``,
Spark ``F.replace`` and DuckDB ``replace`` all implement exactly this
scan, which is what lets the Spark plan stay pure Catalyst and the oracle
stay pure SQL while agreeing byte-for-byte.

Scale note: application cost is per DISTINCT token (the vocabulary), not
per corpus token — ``pipeline.token_counts_bpe`` folds the merge table
over the distinct-token table only and joins the counts back.
"""

from __future__ import annotations

import os
from collections import Counter

MERGES_FILE = os.path.join(os.path.dirname(__file__), "bpe_merges.txt")


def train_bpe(word_freqs: dict[str, int],
              n_merges: int) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges from a word->frequency table.

    Deterministic: ties on pair count break on the lexicographically
    smallest (left, right) pair. Stops early when no pair occurs twice.
    """
    # each word as a tuple of symbols, weighted by frequency
    words: list[tuple[list[str], int]] = [
        (list(w), f) for w, f in sorted(word_freqs.items()) if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, freq in words:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        ab = a + b
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i:i + 2] = [ab]
                else:
                    i += 1
    return merges


def apply_bpe(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment ``word`` with the frozen merges (rank-order replace-all —
    the exact semantics of the Spark fold and the DuckDB recursive CTE)."""
    state = "".join(f"<{c}>" for c in word)
    for a, b in merges:
        state = state.replace(f"<{a}><{b}>", f"<{a}{b}>")
    return [s for s in state.replace(">", "").split("<") if s]


def bpe_token_count(word: str, merges: list[tuple[str, str]]) -> int:
    return len(apply_bpe(word, merges))


def save_merges(merges: list[tuple[str, str]], path: str = MERGES_FILE
                ) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("# frozen BPE merges (rank order) — tools/train_bpe.py\n")
        for a, b in merges:
            fh.write(f"{a} {b}\n")


def load_merges(path: str = MERGES_FILE) -> list[tuple[str, str]]:
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            a, b = line.split(" ", 1)
            merges.append((a, b))
    return merges
