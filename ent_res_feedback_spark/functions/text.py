"""Scalar text-function library (SURVEY.md §2.2, F1-F14).

Semantics mirror the reference's ``s2and/text.py`` (cited per function);
implementations are Spark-native column expressions wherever possible so
they stay inside whole-stage codegen, and Arrow-batched pandas UDFs only
where a JVM builtin genuinely can't express them (unicode folding,
character-n-gram bags).

Missing-value convention: the reference uses ``np.nan``; this engine uses
SQL NULL (the idiomatic Spark missing value — NaN breaks join/groupBy
equality). ``fill_missing`` (F14) converts at the model boundary.
"""

from __future__ import annotations

import unicodedata
from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, MapType, StringType

# ---------------------------------------------------------------------------
# Constants (reference: s2and/text.py:27-243)
# ---------------------------------------------------------------------------

# Dropped nobiliary/patronymic affixes used by the middle-name constraint
# (reference s2and/text.py:27-76).
DROPPED_AFFIXES = {
    "ab", "am", "ap", "abu", "al", "auf", "aus", "bar", "bath", "bat",
    "bet", "bint", "dall", "dalla", "das", "de", "degli", "del", "dell",
    "della", "dem", "den", "der", "di", "do", "dos", "ds", "du", "el",
    "ibn", "im", "jr", "la", "las", "le", "los", "mac", "mc", "mhic",
    "mic", "ter", "und", "van", "vom", "von", "zu", "zum", "zur",
}

# English stopword list (reference s2and/text.py:80-210).
STOPWORDS = {
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "her", "hers", "herself", "it", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had", "having",
    "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
    "or", "because", "as", "until", "while", "of", "at", "by", "for",
    "with", "about", "against", "between", "into", "through", "during",
    "before", "after", "above", "below", "to", "from", "up", "down",
    "in", "out", "on", "off", "over", "under", "again", "further",
    "then", "once", "here", "there", "when", "where", "why", "how",
    "all", "any", "both", "each", "few", "more", "most", "other", "some",
    "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "s", "t", "can", "will", "just", "don", "should",
    "now",
}

AFFILIATIONS_STOP_WORDS = STOPWORDS | {
    "university", "college", "lab", "organization", "department",
    "research", "institute", "school", "academy", "national", "laboratory",
}

VENUE_STOP_WORDS = STOPWORDS | {
    "proceedings", "journal", "conference", "transactions",
    "international", "society", "letters", "official", "research",
    "association",
}

NAME_PREFIXES = {
    "dr", "prof", "professor", "mr", "miss", "mrs", "ms", "mx", "sir",
    "phd", "md", "doctor",
}

# Extra Latin fold pairs NFKD alone doesn't decompose.
_FOLD_MAP = str.maketrans({
    "ß": "ss", "ẞ": "SS", "ø": "o", "Ø": "O", "æ": "ae", "Æ": "AE",
    "œ": "oe", "Œ": "OE", "đ": "d", "Đ": "D", "ð": "d", "Ð": "D",
    "þ": "th", "Þ": "Th", "ł": "l", "Ł": "L", "ħ": "h", "Ħ": "H",
    "ı": "i", "ŋ": "n", "Ŋ": "N",
})


def _ascii_fold_one(s: str) -> str:
    """Fold accented Latin text to ASCII (unidecode-lite).

    Mirrors the role of ``text_unidecode.unidecode`` in the reference's
    ``normalize_text`` (s2and/text.py:330). Divergence note: CJK
    transliteration (e.g. 漢 -> 'Han') needs a full transliteration table
    and is out of scope — non-Latin codepoints fold to '' here, which the
    downstream regex would have turned into a space separator anyway.
    """
    s = s.translate(_FOLD_MAP)
    return (
        unicodedata.normalize("NFKD", s)
        .encode("ascii", "ignore")
        .decode("ascii")
    )


@pandas_udf(StringType())
def ascii_fold(col: pd.Series) -> pd.Series:
    """Arrow-batched unicode->ASCII fold (the only non-JVM part of F1)."""
    return col.map(lambda s: _ascii_fold_one(s) if s is not None else None)


def normalize_text(col: Column, special_case_apostrophes: bool = False) -> Column:
    """F1 — reference ``normalize_text`` (s2and/text.py:312-338).

    fold -> lower -> (optionally drop apostrophes) -> non-alpha runs to a
    single space -> squeeze whitespace -> trim. NULL/empty -> ''.
    """
    c = F.lower(ascii_fold(col))
    if special_case_apostrophes:
        c = F.regexp_replace(c, "'", "")
    c = F.regexp_replace(c, r"[^a-zA-Z\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.coalesce(c, F.lit(""))


def normalize_text_ascii(col: Column, special_case_apostrophes: bool = False) -> Column:
    """F1, ASCII-only fast path: identical to ``normalize_text`` for ASCII
    inputs but 100% JVM-side (no UDF) — used by oracle-checked queries so
    DuckDB can express the exact same transform."""
    c = F.lower(col)
    if special_case_apostrophes:
        c = F.regexp_replace(c, "'", "")
    c = F.regexp_replace(c, r"[^a-zA-Z\s]+", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.coalesce(c, F.lit(""))


# ---------------------------------------------------------------------------
# N-gram bags (F2, F3) — map<string,int> columns with Counter-max union
# ---------------------------------------------------------------------------

def char_ngrams_counter(
    text: str | None,
    use_unigrams: bool = False,
    use_bigrams: bool = True,
    stopwords: frozenset | set | None = STOPWORDS,
) -> Counter:
    """Driver-side/pandas kernel for F2 — reference ``get_text_ngrams``
    (s2and/text.py:397-444). Character 2/3/4-grams (optionally 1-grams)
    within word boundaries; grams combined with Counter union ``|`` which
    is ELEMENT-WISE MAX, not sum (text.py:443)."""
    if not text:
        return Counter()
    if stopwords is not None:
        text = " ".join(w for w in text.split(" ") if w not in stopwords and len(w) > 2)
    unigrams = (c for c in text if c != " ") if use_unigrams else ()
    bigrams = (
        ("".join(g) for g in zip(text, text[1:]) if " " not in g)
        if use_bigrams
        else ()
    )
    trigrams = ("".join(g) for g in zip(text, text[1:], text[2:]) if " " not in g)
    quadgrams = (
        "".join(g) for g in zip(text, text[1:], text[2:], text[3:]) if " " not in g
    )
    return Counter(unigrams) | Counter(bigrams) | Counter(trigrams) | Counter(quadgrams)


def word_ngrams_counter(
    text: str | None, stopwords: frozenset | set = STOPWORDS
) -> Counter:
    """Kernel for F3 — reference ``get_text_ngrams_words``
    (s2and/text.py:447-475). Word 1/2/3-grams after stopword + len>1
    filter; Counter-max union."""
    if not text:
        return Counter()
    toks = [w for w in text.split() if w not in stopwords and len(w) > 1]
    unigrams = Counter(toks)
    bigrams = Counter(" ".join(g) for g in zip(toks, toks[1:]))
    trigrams = Counter(" ".join(g) for g in zip(toks, toks[1:], toks[2:]))
    return unigrams | bigrams | trigrams


def _counter_udf(kernel, **kw):
    @pandas_udf(MapType(StringType(), IntegerType()))
    def _udf(col: pd.Series) -> pd.Series:
        return col.map(lambda s: dict(kernel(s, **kw)))

    return _udf


def char_ngrams(col: Column, stopwords=STOPWORDS, use_unigrams=False) -> Column:
    """F2 as an Arrow-batched map<string,int> column."""
    return _counter_udf(char_ngrams_counter, use_unigrams=use_unigrams, stopwords=stopwords)(col)


def word_ngrams(col: Column, stopwords=STOPWORDS) -> Column:
    """F3 as an Arrow-batched map<string,int> column."""
    return _counter_udf(word_ngrams_counter, stopwords=stopwords)(col)


# ---------------------------------------------------------------------------
# Jaccards (F10, F11) — pure column expressions (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

def counter_jaccard(m1: Column, m2: Column, denominator_max: float | None = None) -> Column:
    """F10 — reference ``counter_jaccard`` (s2and/text.py:576-601).

    sum(min(c1,c2)) / min(sum(c1)+sum(c2)-sum(min), denominator_max),
    clamped to <=1; NULL (reference: NaN) if either bag is empty.
    Entirely JVM-side via map_zip_with + aggregate.
    """
    inter = F.aggregate(
        F.map_values(
            F.map_zip_with(
                m1, m2, lambda _, v1, v2: F.least(F.coalesce(v1, F.lit(0)), F.coalesce(v2, F.lit(0)))
            )
        ),
        F.lit(0).cast("double"),
        lambda acc, x: acc + x,
    )
    total = lambda m: F.aggregate(  # noqa: E731
        F.map_values(m), F.lit(0).cast("double"), lambda acc, x: acc + x
    )
    union = total(m1) + total(m2) - inter
    denom = F.least(union, F.lit(float(denominator_max))) if denominator_max else union
    score = F.least(inter / denom, F.lit(1.0))
    return F.when((F.size(m1) > 0) & (F.size(m2) > 0), score)


def set_jaccard(a1: Column, a2: Column) -> Column:
    """F11 — reference set ``jaccard`` (s2and/text.py:604-629).
    |intersection|/|union| over array columns (deduped); NULL if either
    side is empty."""
    return distinct_jaccard(F.array_distinct(a1), F.array_distinct(a2))


def distinct_jaccard(a1: Column, a2: Column) -> Column:
    """``set_jaccard`` over arrays that are already distinct (e.g. derived
    once per row upstream), without re-deduplicating them per pair."""
    score = F.size(F.array_intersect(a1, a2)) / F.size(F.array_union(a1, a2))
    return F.when((F.size(a1) > 0) & (F.size(a2) > 0), score)


# ---------------------------------------------------------------------------
# Null-safe equalities (F9), diff (F12), name counts (F13), fill (F14)
# ---------------------------------------------------------------------------

def equal(c1: Column, c2: Column) -> Column:
    """F9 — reference ``equal`` (s2and/text.py:478-508): lowercased/trimmed
    equality; NULL when either side is NULL/empty/'-'."""
    bad = lambda c: c.isNull() | (F.length(c) == 0) | (c == "-")  # noqa: E731
    return F.when(
        ~bad(c1) & ~bad(c2),
        (F.lower(F.trim(c1)) == F.lower(F.trim(c2))).cast("int"),
    )


def equal_middle(c1: Column, c2: Column) -> Column:
    """F9 — reference ``equal_middle`` (s2and/text.py:511-543): if either
    is a single char compare initials, else full equality; NULL when
    either side empty."""
    bad = lambda c: c.isNull() | (F.length(c) == 0)  # noqa: E731
    either_initial = (F.length(c1) == 1) | (F.length(c2) == 1)
    return F.when(
        ~bad(c1) & ~bad(c2),
        F.when(either_initial, (F.substring(c1, 1, 1) == F.substring(c2, 1, 1)).cast("int"))
        .otherwise((c1 == c2).cast("int")),
    )


def equal_initial(c1: Column, c2: Column) -> Column:
    """F9 — reference ``equal_initial`` (s2and/text.py:546-573)."""
    bad = lambda c: c.isNull() | (F.length(F.trim(c)) == 0)  # noqa: E731
    return F.when(
        ~bad(c1) & ~bad(c2),
        (F.lower(F.substring(F.trim(c1), 1, 1)) == F.lower(F.substring(F.trim(c2), 1, 1))).cast("int"),
    )


def abs_diff(c1: Column, c2: Column, cap: float | None = None) -> Column:
    """F12 — reference ``diff`` (s2and/text.py:656-676): |a-b|, NULL-safe;
    optional cap (the featurizer caps year/position diffs at 50,
    featurizer.py:429-437, 465-471)."""
    d = F.abs(c1.cast("double") - c2.cast("double"))
    if cap is not None:
        d = F.least(d, F.lit(float(cap)))
    return d


def name_counts_min_max(nc1: Column, nc2: Column) -> list[Column]:
    """F13 — reference ``name_counts`` (s2and/text.py:679-721).

    ``nc`` columns are struct<first,first_last,last,last_first_initial>.
    Returns 6 columns: element-wise null-skipping min of all four
    (np.nanmin) then null-PROPAGATING max of (first, first_last)
    (np.max — text.py:716-719 keeps that asymmetry deliberately).
    """
    nanmin = lambda a, b: F.least(a, b)  # least() skips NULLs  # noqa: E731
    nanmax_propagate = lambda a, b: F.when(  # noqa: E731
        a.isNull() | b.isNull(), F.lit(None)
    ).otherwise(F.greatest(a, b))
    return [
        nanmin(nc1["first"], nc2["first"]).alias("first_name_count_min"),
        nanmin(nc1["first_last"], nc2["first_last"]).alias("last_first_name_count_min"),
        nanmin(nc1["last"], nc2["last"]).alias("last_name_count_min"),
        nanmin(nc1["last_first_initial"], nc2["last_first_initial"]).alias(
            "last_first_initial_count_min"
        ),
        nanmax_propagate(nc1["first"], nc2["first"]).alias("first_name_count_max"),
        nanmax_propagate(nc1["first_last"], nc2["first_last"]).alias(
            "last_first_name_count_max"
        ),
    ]


def fill_missing(col: Column, value: float) -> Column:
    """F14 — missing-feature sentinel fill (reference featurizer.py:604,
    consts.py:39-42 uses np.nan -> -LARGE_INTEGER)."""
    return F.coalesce(col, F.lit(float(value)))


# ---------------------------------------------------------------------------
# Blocking key (F4)
# ---------------------------------------------------------------------------

def compute_block_key(name_col: Column) -> Column:
    """F4 — reference ``compute_block`` (s2and/text.py:632-653):
    first-initial + ' ' + last token; single-token names block to
    themselves; empty -> ''. Pure column expression."""
    parts = F.split(name_col, " ")
    return (
        F.when(F.length(name_col) == 0, F.lit(""))
        .when(F.size(parts) == 1, F.element_at(parts, 1))
        .otherwise(
            F.concat(
                F.substring(F.element_at(parts, 1), 1, 1),
                F.lit(" "),
                F.element_at(parts, -1),
            )
        )
    )
