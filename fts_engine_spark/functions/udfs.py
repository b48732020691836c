"""Vectorized Arrow pandas UDFs wrapping the pure-Python text pipeline.

The ``input_hint`` mandates *no per-row Python UDFs*: every Python-side
transform here is an Arrow-batched ``pandas_udf``. Tokenization/stemming is
inherently per-token work, but Arrow batching amortizes (de)serialization and
the ``lru_cache`` on the stemmers exploits the Zipfian vocabulary — the hot
head terms stem once per executor.

Reference parity: the UDFs call the exact pipeline functions pinned by the
golden tests, so Spark-side tokenization is byte-identical to
``Pipeline.Process`` (``/root/reference/pkg/textproc/pipeline.go:16-41``),
and the query side calls the same functions on the driver — guaranteed
doc/query symmetry (``pkg/fts/filter_normalize.go:9-29``).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..extract import clean_text, extract_text
from ..textproc.pipeline import get_pipeline

_LANG_PRESETS = {"en": "english", "ru": "russian"}

# doc-local (term, tf) pairs — the map-side-combined token stream. Emitting
# these instead of the raw token array lets the index build shuffle
# |distinct terms per doc| rows instead of |token occurrences| AND delete
# the groupBy(term, doc_id) exchange entirely (the tf aggregation happens
# here, inside the tokenize pass that already touches every token).
TERM_TF_TYPE = ArrayType(
    StructType(
        [
            StructField("term", StringType(), False),
            StructField("tf", IntegerType(), False),
        ]
    )
)


def _pairs(counter: Counter) -> list[dict]:
    return [{"term": t, "tf": int(c)} for t, c in counter.items()]


def make_tokenize_udf(preset: str = "english"):
    """``tokenize(text) -> array<string>`` for a fixed preset."""
    pipe = get_pipeline(preset)

    @pandas_udf(ArrayType(StringType()))
    def tokenize_text(text: pd.Series) -> pd.Series:
        proc = pipe.process
        return pd.Series([proc(t) if t is not None else [] for t in text])

    return tokenize_text


def make_tokenize_by_lang_udf(default_preset: str = "multilingual"):
    """``tokenize(text, lang) -> array<string>``: route en→english,
    ru→russian, anything else→``default_preset`` (per-row pipeline choice,
    mirrors config-driven assembly ``cmd/fts/main.go:562-590``)."""
    fallback = get_pipeline(default_preset)

    @pandas_udf(ArrayType(StringType()))
    def tokenize_text_lang(text: pd.Series, lang: pd.Series) -> pd.Series:
        pipes = {k: get_pipeline(v).process for k, v in _LANG_PRESETS.items()}
        fb = fallback.process
        out = []
        for t, lg in zip(text, lang):
            if t is None:
                out.append([])
            else:
                out.append(pipes.get(lg, fb)(t))
        return pd.Series(out)

    return tokenize_text_lang


def term_tf_pairs(preset: str = "english", by_lang: bool = False):
    """The tokenize + doc-local tf function every ``term_tf`` UDF runs,
    also called directly by the driver-staged build
    (``build.stage_in_driver``): ``pairs(texts, langs=None)`` returns one
    ``[{term, tf}]`` list per text, exactly ``Counter(pipeline.process(t))``
    (``[]`` for a null text). ``by_lang`` routes each row by its lang
    (en→english, ru→russian, anything else→``preset``)."""
    fallback = get_pipeline(preset)

    def pairs(texts, langs=None) -> list[list[dict]]:
        fb = fallback.process
        if not by_lang:
            return [_pairs(Counter(fb(t))) if t is not None else [] for t in texts]
        pipes = {k: get_pipeline(v).process for k, v in _LANG_PRESETS.items()}
        return [
            _pairs(Counter(pipes.get(lg, fb)(t))) if t is not None else []
            for t, lg in zip(texts, langs)
        ]

    return pairs


def make_term_tf_udf(preset: str = "english"):
    """``term_tf(text) -> array<struct<term,tf>>``: tokenize + doc-local tf
    aggregation in one Python pass (exactly ``Counter(pipeline.process(t))``,
    so tf values are identical to ``groupBy(term, doc_id).count()`` over the
    exploded token array — pinned by tests/test_build_pairs.py)."""
    pairs = term_tf_pairs(preset)

    @pandas_udf(TERM_TF_TYPE)
    def term_tf(text: pd.Series) -> pd.Series:
        return pd.Series(pairs(text))

    return term_tf


def make_term_tf_by_lang_udf(default_preset: str = "multilingual"):
    """``term_tf(text, lang) -> array<struct<term,tf>>`` with per-row
    pipeline routing (en→english, ru→russian, else default)."""
    pairs = term_tf_pairs(default_preset, by_lang=True)

    @pandas_udf(TERM_TF_TYPE)
    def term_tf_lang(text: pd.Series, lang: pd.Series) -> pd.Series:
        return pd.Series(pairs(text, lang))

    return term_tf_lang


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """``html:binary -> text:string``; byte-identical invariant
    (tests/test_extract.py + tests/test_corpus.py)."""
    return pd.Series([extract_text(h) for h in html])


@pandas_udf(StringType())
def clean_text_udf(text: pd.Series) -> pd.Series:
    """Reference ``utils.Clean`` (clean.go:8-16) as a column transform."""
    return pd.Series([clean_text(t) if t is not None else None for t in text])
