"""Vectorized text analysis: tokenize -> lowercase -> stopwords -> stem.

Re-expresses the reference's analysis pipeline (``analyze_compose.go:8-14``:
tokenizer then filters in registration order; canonical order pinned by
``index_memory_index_test.go:11-16`` and ``README.md:67-73``) as ONE fused
function over pandas Series / Arrow batches — the per-row Go loop
(``analyze_clean_tokenizer.go:18-27``) becomes a batch regex split, and the
per-token stem loop (``analyze_stem_filter.go:9-15``) becomes a
distinct-vocabulary dict build per batch.

Tokenizer parity: the reference keeps maximal runs of runes where
``unicode.IsNumber(r) || unicode.IsLetter(r)`` (``analyze_clean_tokenizer.go:
37-43``) — i.e. splits on anything that is not a Unicode letter/number:
the class ``[\\p{L}\\p{N}]``. Ordering note: the reference tokenizes then
lowercases each token; we lowercase the whole text first so the tokenize
pass is one vectorized call. The two orders agree whenever lowercasing
does not change a character's letter/number class — true for all of
Latin/web text including the fixture vocabulary (``León``); pinned by
golden tests.

Two engines tokenize with that class, and both lowercase with Arrow's
``utf8_lower`` (simple case mapping, one implementation of it):

- ``analyze_flat`` (the build, and every batch): Arrow's RE2
  ``split_pattern_regex`` over a whole column.
- ``analyze_text`` (one query string): the ``regex`` module's findall,
  when every code point of the lowered string is below ``U+088F``
  (``_REGEX_RE2_AGREE_BELOW``). A compute-kernel call costs ~3 ms per
  query string, mostly compiling its RE2 pattern on every call; the
  compiled ``regex`` pattern costs microseconds. The two libraries'
  Unicode tables (``regex`` 2026.5.9, pyarrow 16.1.0's RE2) agree on
  ``\\p{L}\\p{N}`` for every code point below ``U+088F`` and disagree on
  9,661 newer assignments above it, so any other string takes the Arrow
  path. ``tests/test_analysis.py`` checks the agreement on every code
  point below the gate, so a library upgrade that moves it fails there.

The same analyzer MUST be used at index time and query time
(``index_memory_index.go:45,63`` uses one pipeline for both).
"""

from __future__ import annotations

import html as _html
from dataclasses import dataclass, field

import pandas as pd
import regex

from visigoth_spark.stemmer_es import stem_cached, stem_vocab
from visigoth_spark.stopwords_es import SPANISH_STOPWORDS

_TOKEN_RE = regex.compile(r"[\p{L}\p{N}]+")

# the first code point where the regex module's and Arrow RE2's
# [\p{L}\p{N}] disagree (module docstring): analyze_text tokenizes a
# lowered string with _TOKEN_RE only when every code point is below it
_REGEX_RE2_AGREE_BELOW = "\u088f"


@dataclass(frozen=True)
class AnalyzerConfig:
    """Pluggable analysis config (≙ the reference's pipeline registration,
    ``analyze_compose.go:16-21`` / ``analyze_clean_tokenizer.go:29-35``)."""

    keep_pattern: str = r"[\p{L}\p{N}]+"
    lowercase: bool = True
    stopwords: frozenset[str] = field(default=SPANISH_STOPWORDS)
    stem: bool = True

    @property
    def token_re(self) -> "regex.Pattern":
        return regex.compile(self.keep_pattern)


DEFAULT_ANALYZER = AnalyzerConfig()

# Analyzer used for the driver-testdata harness: no stemming (so the DuckDB
# oracle can reproduce it in pure SQL) and a tiny English stopword set
# matching the testdata vocabulary.
SQL_SAFE_ANALYZER = AnalyzerConfig(
    stopwords=frozenset({"the", "a"}), stem=False
)


_DEFAULT_KEEP = r"[\p{L}\p{N}]+"


def analyze_flat(texts: pd.Series, cfg: AnalyzerConfig = DEFAULT_ANALYZER):
    """Fully-Arrow analysis for the BUILD hot path: returns
    ``(terms, lens)`` where ``terms`` is a flat pyarrow string Array of all
    analyzed tokens in document order and ``lens[i]`` is document i's
    post-analysis token count (its BM25 doclen).

    Tokens never round-trip through per-token Python objects: RE2 does the
    split (``pc.split_pattern_regex`` on the complement class ≡ findall of
    the keep class), ``pc.is_in`` drops stopwords, and stemming touches
    Python only for the batch's DISTINCT vocabulary (stem_vocab memo) before
    a vectorized ``take`` maps every token — measured ~4.5x faster than the
    per-row ``regex.findall`` path on the bench corpus, on top of the
    cheaper Arrow-native downstream groupby.

    Token-identical to ``analyze_text`` (which the query side uses):
    pinned by golden + fuzz identity tests in tests/test_analysis.py.
    Custom keep-patterns fall back to the regex-module path + flatten."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    # Arrow's internal compute pool defaults to ALL host cores; inside a
    # Spark python worker that multiplies into workers x cores threads and
    # thrashes (measured: the 8-worker build burned 2x the CPU of the
    # 2-worker build). Spark owns the parallelism — Arrow runs single-thread
    # IN WORKERS ONLY: the pool is process-global, and the driver also runs
    # this code for query analysis — pinning it there would serialize the
    # driver-route's pyarrow segment/docmap reads, which have no competing
    # parallelism and want the threads.
    if pa.cpu_count() != 1:
        try:
            from pyspark import TaskContext
            in_worker = TaskContext.get() is not None
        except Exception:
            in_worker = True  # unknown context: keep the safe behavior
        if in_worker:
            pa.set_cpu_count(1)

    if cfg.keep_pattern != _DEFAULT_KEEP or not cfg.lowercase:
        lists = _analyze_lists_python(texts, cfg)
        lens = np.fromiter((len(t) for t in lists), dtype=np.int64,
                           count=len(lists))
        flat = [t for lst in lists for t in lst]
        return pa.array(flat, type=pa.string()), lens

    arr = pa.array(texts.fillna(""), type=pa.string())
    split = pc.split_pattern_regex(
        pc.utf8_lower(arr), pattern=r"[^\p{L}\p{N}]+"
    )
    if isinstance(split, pa.ChunkedArray):
        split = split.combine_chunks()
    flat = split.flatten()
    offsets = split.offsets.to_numpy(zero_copy_only=False)
    keep = pc.not_equal(flat, "")  # empty boundary tokens from split
    if cfg.stopwords:
        sw = pa.array(sorted(cfg.stopwords), type=pa.string())
        keep = pc.and_(keep, pc.invert(pc.is_in(flat, value_set=sw)))
    keep_np = keep.to_numpy(zero_copy_only=False)
    row_len = offsets[1:] - offsets[:-1]
    if len(keep_np):
        # reduceat indices must stay in-bounds even when trailing rows are
        # empty (offset == len); stale values from empty slices are zeroed
        # by the row_len mask below
        idx = np.minimum(offsets[:-1], len(keep_np) - 1)
        lens = np.add.reduceat(keep_np.astype(np.int64), idx)
    else:
        lens = np.zeros(len(texts), dtype=np.int64)
    lens = np.where(row_len > 0, lens, 0)
    kept = flat.filter(keep)
    if cfg.stem:
        vocab = pc.unique(kept)
        vpy = vocab.to_pylist()
        stems = stem_vocab(set(vpy))
        stem_arr = pa.array([stems[v] for v in vpy], type=pa.string())
        kept = stem_arr.take(pc.index_in(kept, value_set=vocab))
    return kept, lens


def _analyze_lists_python(texts: pd.Series, cfg: AnalyzerConfig) -> list[list[str]]:
    """Regex-module analysis for CUSTOM keep-patterns (the pluggable A7
    surface). NOTE: uses Python ``str.lower()`` — for the default pattern
    the Arrow lowercasing is authoritative instead (see analyze_series)."""
    s = texts.fillna("")
    if cfg.lowercase:
        s = s.str.lower()
    token_re = cfg.token_re
    toks = [token_re.findall(t) for t in s.tolist()]
    sw = cfg.stopwords
    if cfg.stem:
        vocab: set[str] = set()
        for lst in toks:
            vocab.update(lst)
        stems = stem_vocab(vocab.difference(sw))
        return [[stems[t] for t in lst if t not in sw] for lst in toks]
    if sw:
        return [[t for t in lst if t not in sw] for lst in toks]
    return toks


def analyze_series(texts: pd.Series, cfg: AnalyzerConfig = DEFAULT_ANALYZER) -> pd.Series:
    """Analyze a batch of documents; returns a Series of list[str].

    For the default keep-pattern this DELEGATES to the same Arrow path the
    index build uses (``analyze_flat``) and just re-slices the flat token
    stream into per-document lists — index-time and query-time analysis are
    THE SAME CODE, so the same-analyzer invariant
    (index_memory_index.go:45,63) holds by construction. (Python
    ``str.lower()`` differs from Arrow/Go simple case mapping on
    context-sensitive characters — Greek final sigma, Turkish İ — and the
    reference's per-rune ``unicode.ToLower`` matches the SIMPLE mapping, so
    the Arrow path is also the better parity choice.) Custom keep-patterns
    use the regex-module path (``_analyze_lists_python``)."""
    if cfg.keep_pattern == _DEFAULT_KEEP and cfg.lowercase:
        terms, lens = analyze_flat(texts, cfg)
        vals = terms.to_pylist()
        out: list[list[str]] = []
        start = 0
        for n in lens:
            out.append(vals[start:start + int(n)])
            start += int(n)
        return pd.Series(out, index=texts.index)
    return pd.Series(_analyze_lists_python(texts, cfg), index=texts.index)


def analyze_text(text: str, cfg: AnalyzerConfig = DEFAULT_ANALYZER) -> list[str]:
    """Driver-side single-string analysis (query strings are tiny): the
    tokens ``analyze_series`` gives for ``[text]``.

    For the default keep-pattern this lowercases with Arrow's
    ``utf8_lower`` (the build's case mapping), then, when every code point
    of the lowered string is below ``_REGEX_RE2_AGREE_BELOW``, tokenizes
    with the compiled ``regex`` pattern, drops stopwords and stems through
    the ``stem_cached`` memo — without the per-call RE2 compile of
    ``split_pattern_regex``. Any other string, and custom keep-patterns,
    go through ``analyze_series``. The module docstring says why the gate
    keeps both engines token-identical."""
    if (cfg.keep_pattern == _DEFAULT_KEEP and cfg.lowercase
            and isinstance(text, str) and text):
        import pyarrow as pa
        import pyarrow.compute as pc

        lowered = pc.utf8_lower(pa.scalar(text, pa.string())).as_py()
        if max(lowered) < _REGEX_RE2_AGREE_BELOW:
            sw = cfg.stopwords
            toks = [t for t in _TOKEN_RE.findall(lowered) if t not in sw]
            return [stem_cached(t) for t in toks] if cfg.stem else toks
    return analyze_series(pd.Series([text]), cfg).iloc[0]


def highlight_spans(raw: str, terms: set[str] | frozenset[str],
                    cfg: AnalyzerConfig = DEFAULT_ANALYZER) -> list[dict]:
    """Character spans of the tokens in ``raw`` whose ANALYZED form is in
    ``terms`` — the snippet/highlight primitive. Spans are over the raw
    string as stored (offsets never shift: tokens are located with the
    keep-pattern on the ORIGINAL text, and only each matched token round-
    trips through the analyzer for comparison). Stopworded tokens analyze
    to nothing and never highlight; with a stemming analyzer a query for
    'tables' highlights 'table' occurrences (shared stem). Returns
    [{'term': analyzed, 'start': i, 'end': j}, ...] in document order.

    Cost model: called ONLY on the hydrated top-k (<= k documents per
    query) — pure driver-side regex + per-token memoized analysis, never
    part of a distributed plan."""
    if not raw or not terms:
        return []
    out: list[dict] = []
    memo: dict[str, str | None] = {}
    for m in cfg.token_re.finditer(raw):
        tok = m.group(0)
        if tok not in memo:
            analyzed = analyze_text(tok, cfg)
            memo[tok] = analyzed[0] if analyzed else None
        a = memo[tok]
        if a is not None and a in terms:
            out.append({"term": a, "start": m.start(), "end": m.end()})
    return out


def phrase_highlight_spans(raw: str, query_tokens: list[str], slop: int = 0,
                           cfg: AnalyzerConfig = DEFAULT_ANALYZER
                           ) -> list[dict]:
    """Character spans of the MATCHED phrase windows only — the
    positions-aware highlighter for ``engine='phrase'``. Where
    ``highlight_spans`` marks every occurrence of every query term, this
    marks exactly the token occurrences that participate in a qualifying
    chain, mirroring the positional kernel's semantics
    (query._phrase_body): with ``slop=0`` a window is a full adjacency
    chain (token j at start+j over the ANALYZED sequence); with
    ``slop=s`` it is the greedy-earliest in-order chain from each
    occurrence of the first token whose total span fits
    ``len(tokens)+s`` — the same greedy walk the kernel counts, so the
    number of distinct windows equals the doc's phrase tf. Returns
    [{'term', 'start', 'end', 'window'}, ...] in (window, position)
    order; ``window`` numbers the chains in start order.

    Cost model: like ``highlight_spans``, driver-side on the hydrated
    top-k rows only (<= k docs x len(raw) regex work) — never part of
    the distributed plan. Token offsets come from re-locating the
    keep-pattern on the RAW string; the chain positions are recomputed
    over the surviving (analyzed-nonempty) tokens, which is exactly the
    position space the index stores, so the highlighted windows are the
    windows the kernel matched."""
    if not raw or not query_tokens:
        return []
    memo: dict[str, str | None] = {}
    seq: list[str] = []          # analyzed token sequence (index positions)
    spans: list[tuple[int, int]] = []  # raw char span per analyzed position
    for m in cfg.token_re.finditer(raw):
        tok = m.group(0)
        if tok not in memo:
            analyzed = analyze_text(tok, cfg)
            memo[tok] = analyzed[0] if analyzed else None
        a = memo[tok]
        if a is not None:
            seq.append(a)
            spans.append((m.start(), m.end()))
    n, mlen = len(seq), len(query_tokens)
    if n < mlen:
        return []
    occ: dict[str, list[int]] = {}
    for t in set(query_tokens):
        occ[t] = [i for i, a in enumerate(seq) if a == t]
    chains: list[list[int]] = []
    if slop == 0:
        for p0 in occ.get(query_tokens[0], []):
            if p0 + mlen <= n and all(
                seq[p0 + j] == query_tokens[j] for j in range(1, mlen)
            ):
                chains.append(list(range(p0, p0 + mlen)))
    else:
        import bisect

        for p0 in occ.get(query_tokens[0], []):
            chain, cur = [p0], p0
            for tok in query_tokens[1:]:
                ps = occ[tok]
                i = bisect.bisect_right(ps, cur)
                if i >= len(ps):
                    chain = None
                    break
                cur = ps[i]
                chain.append(cur)
            if chain is not None and chain[-1] - p0 <= mlen - 1 + slop:
                chains.append(chain)
    out: list[dict] = []
    for w, chain in enumerate(chains):
        for j, p in enumerate(chain):
            s, e = spans[p]
            out.append({"term": query_tokens[j], "start": s, "end": e,
                        "window": w})
    return out


# ---------------------------------------------------------------------------
# HTML -> text extraction (corpus ingestion; input_hint invariant:
# byte-identical extracted text per url vs the oracle extractor).
# ---------------------------------------------------------------------------

_SCRIPT_STYLE_RE = regex.compile(
    r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>"
)
_BLOCK_RE = regex.compile(r"(?is)<title\b[^>]*>(.*?)</title\s*>|<p\b[^>]*>(.*?)</p\s*>")
_TAG_RE = regex.compile(r"(?s)<[^>]+>")


def extract_text(html_bytes: bytes) -> str:
    """Oracle text extractor: title + paragraphs, entity-unescaped, joined
    by newlines. Deterministic; shared by the fixture generator and the
    vectorized Spark extractor so the byte-identity invariant holds by
    construction and is re-checked per url in tests."""
    doc = html_bytes.decode("utf-8", errors="replace")
    doc = _SCRIPT_STYLE_RE.sub(" ", doc)
    parts: list[str] = []
    for m in _BLOCK_RE.finditer(doc):
        chunk = m.group(1) if m.group(1) is not None else m.group(2)
        chunk = _TAG_RE.sub("", chunk)
        parts.append(_html.unescape(chunk))
    return "\n".join(parts)


def extract_text_series(html_col: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_text(b if b is not None else b"") for b in html_col.tolist()],
        index=html_col.index,
    )
