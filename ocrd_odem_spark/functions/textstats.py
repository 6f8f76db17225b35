"""Text analysis for training-data curation: language ID, quality scores,
token counting, fingerprinting.  All native column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..constants import ODEM_PUNCTUATIONS

#: tiny per-language stopword profiles (n-gram heuristic tier)
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "que", "y"],
}

#: BPE-ish subword splitter: letter-runs, digit-runs, single other glyphs
_BPE_RE = r"[A-Za-zÀ-ÖØ-öø-ÿſ]+|[0-9]+|[^A-Za-zÀ-ÖØ-öø-ÿſ0-9\s]"


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")).cast("long")


def subword_token_count(text: Column) -> Column:
    """Count of BPE-ish subword units (regex pre-tokenisation)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_RE), F.lit(0))).cast("long")


def _count_token(text: Column, word: str) -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def language_scores(text: Column) -> Column:
    """struct of per-language stopword hit counts."""
    return F.struct(
        *[
            sum((_count_token(text, w) for w in words), F.lit(0).cast("long")).alias(lang)
            for lang, words in _STOPWORDS.items()
        ]
    )


def predict_language(text: Column) -> Column:
    """argmax language with deterministic tie-break (lexicographic); 'und'
    when no stopword hits."""
    scores = language_scores(text)
    pred = F.lit("und")
    best = F.lit(0).cast("long")
    for lang in sorted(_STOPWORDS):
        better = scores[lang] > best
        pred = F.when(better, F.lit(lang)).otherwise(pred)
        best = F.when(better, scores[lang]).otherwise(best)
    return pred


def portable_round(x: Column, k: int) -> Column:
    """``round(x, k)`` by DuckDB's rule for doubles: scale by ``10**k``,
    round half away from zero, unscale.  Spark's ``F.round`` instead rounds
    the double's shortest decimal string HALF_UP, so a product such as
    ``0.14805`` (stored as ``0.148049999…``, scaled ``1480.4999999999998``)
    rounds up in Spark and down in DuckDB.  The fractional part
    ``scaled - floor(scaled)`` is exact in binary, so the half-way test
    reads the scaled double itself."""
    scaled = x.cast("double") * F.lit(float(10**k))
    low = F.floor(scaled)
    frac = scaled - low
    up = (frac > 0.5) | ((frac == 0.5) & (scaled > 0))
    return F.when(up, low + 1).otherwise(low) / F.lit(float(10**k))


def quality_features(text: Column) -> Column:
    """struct of curation features: lengths, ratios, punct/digit densities."""
    n_chars = F.length(text)
    packed = F.replace(text, F.lit(" "), F.lit(""))
    n_packed = F.length(packed)
    n_punct = n_packed - F.length(F.translate(packed, ODEM_PUNCTUATIONS, ""))
    n_digit = n_packed - F.length(F.translate(packed, "0123456789", ""))
    n_tok = whitespace_token_count(text)
    safe = F.greatest(n_packed, F.lit(1))
    return F.struct(
        n_chars.cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        portable_round(n_packed / F.greatest(n_tok, F.lit(1)), 4).alias("mean_token_len"),
        portable_round(n_punct / safe, 4).alias("punct_ratio"),
        portable_round(n_digit / safe, 4).alias("digit_ratio"),
    )


def quality_score(text: Column) -> Column:
    """[0,1] curation score: length saturation minus noise penalties."""
    feats = quality_features(text)
    length_term = F.least(F.lit(1.0), feats["n_tokens"] / F.lit(100.0))
    # subtract one ratio after the other, as q28's oracle does: 1 - (p + d)
    # can differ from 1 - p - d in the last bit and split the rounding
    clean = F.lit(1.0) - feats["punct_ratio"] - feats["digit_ratio"]
    return portable_round(F.greatest(F.lit(0.0), length_term * clean), 4)


def fingerprint(text: Column) -> Column:
    """Normalised content fingerprint (case/space/punct-insensitive md5)."""
    normalized = F.translate(F.lower(text), ODEM_PUNCTUATIONS + " ", "")
    return F.md5(normalized)


def document_profile(df: DataFrame) -> DataFrame:
    """One profiling row per document (the curation feature table)."""
    text = F.col("text")
    feats = quality_features(text)
    return df.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        subword_token_count(text).alias("n_subwords"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        predict_language(text).alias("lang_pred"),
        quality_score(text).alias("quality"),
        fingerprint(text).alias("fingerprint"),
    )
