"""Text analytics for the training-data pipeline surface (column exprs).

Everything here is pure ``pyspark.sql.functions`` — JVM-side, whole-stage
codegen, no Python in the hot path.  Each function returns a Column usable
directly over the ``documents`` table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small stopword set per language family for the quality score / lang-id
# heuristics (public common-word lists).
_EN_STOP = "the of and to in a is that for it as was with be by on not".split()
_DE_STOP = "der die das und zu den von ist des sich mit dem nicht".split()
_FR_STOP = "le la les de des et un une du en est que pour dans".split()
_ES_STOP = "el la los las de y en un una del es que por con para".split()


def token_count(text: Column) -> Column:
    """Whitespace token count (JVM split)."""
    return F.size(F.split(F.trim(text), r"\s+"))


def _stop_ratio(text: Column, stopwords: list[str]) -> Column:
    words = F.split(F.lower(text), r"[^a-zà-ÿ]+")
    n = F.size(words)
    # NOTE: array_intersect would dedup; filter counts true frequency
    hits = F.size(F.filter(words, lambda w: w.isin(stopwords)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def language_id(text: Column) -> Column:
    """n-gram/stopword heuristic language id over {en,de,fr,es,unknown}.

    One pass, four vectorized stopword-frequency scores, argmax.
    """
    scores = {
        "en": _stop_ratio(text, _EN_STOP),
        "de": _stop_ratio(text, _DE_STOP),
        "fr": _stop_ratio(text, _FR_STOP),
        "es": _stop_ratio(text, _ES_STOP),
    }
    pairs = F.array(
        *[F.struct(v.alias("s"), F.lit(k).alias("l")) for k, v in scores.items()]
    )
    best = F.array_max(pairs)
    return F.when(best["s"] >= 0.08, best["l"]).otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """[0,1] document quality: length, punctuation balance, alpha ratio,
    stopword presence — the standard cheap pre-filter stack (C4-style)."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(0.0)
    punct_ratio = F.when(n > 0, punct / n).otherwise(0.0)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(
        F.abs(punct_ratio - F.lit(0.03)) * 10, F.lit(1.0)
    )
    stop_score = F.least(_stop_ratio(text, _EN_STOP) * 4, F.lit(1.0))
    return (
        F.lit(0.3) * len_score
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * punct_score
        + F.lit(0.2) * stop_score
    )


def fingerprint64(text: Column) -> Column:
    """Stable 64-bit document fingerprint of normalized content (case-fold,
    whitespace-collapse) — the exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


def shingles(text: Column, k: int = 5) -> Column:
    """Word k-shingles (array<string>) for MinHash/Jaccard.

    The word array is bound to a lambda variable via a one-element outer
    ``transform`` before any per-shingle work: higher-order-function
    lambdas evaluate INTERPRETED per element, so referencing the
    ``split`` expression directly inside the per-position lambda would
    re-run the full regex split of the document once per shingle
    position (~200x per 1 KB doc — measured 6 s of the 7 s
    docs_minhash_lsh wall at sf0.1).  A lambda variable is evaluated
    once and only the slice/join runs per position."""

    def per_doc(ws: Column) -> Column:
        n = F.size(ws)
        idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
        return F.when(
            n >= k,
            F.transform(idx, lambda i: F.array_join(F.slice(ws, i + 1, k), " ")),
        ).otherwise(F.array(F.array_join(ws, " ")))

    words = F.split(F.lower(F.trim(text)), r"\s+")
    return F.transform(F.array(words), per_doc)[0]
