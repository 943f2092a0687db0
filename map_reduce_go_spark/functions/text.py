"""The word and word k-gram contract, stated once for the engine and once
for the DuckDB oracle.

A word is a maximal run of letters (reference src/mrapps/wc.go:21-24);
a word k-gram is k consecutive words joined by single spaces. Engine
side, ``tokenize`` and ``word_kgrams`` are JVM built-ins (no Python
UDFs), so they stay inside whole-stage codegen. Oracle side,
``WORDS_SQL``, ``words_cte``, ``kgram_sql`` and ``shingle_ctes`` are the
DuckDB SQL strings that read the same. The two sides share only
``WORD_BOUNDARY``: no SQL string is built from a Column and no Column
from SQL.
"""

from __future__ import annotations

import re
from itertools import groupby

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Word boundary of the reference word-count app: any run of non-letters
#: (Go ``!unicode.IsLetter``, reference src/mrapps/wc.go:21-24). ``\p{L}``
#: is the same Unicode letter class in Java regex and in DuckDB's RE2, so
#: engine and oracle share one tokenizer definition (SURVEY.md §7.3).
WORD_BOUNDARY = r"[^\p{L}]+"

#: Python's ``re`` has no ``\p{L}``. Its nearest class, word characters
#: minus digits and ``_``, holds every letter and also the Nl/No numerals
#: (``²``, ``½``, ``Ⅻ``); ``py_words`` splits those off.
_LETTERS_AND_NUMERALS = re.compile(r"[^\W\d_]+")


def py_words(text: str) -> list[str]:
    """The words of ``text`` in order, for Python hooks: the maximal runs
    of ``str.isalpha`` characters, which are exactly the Unicode L
    categories that ``WORD_BOUNDARY`` splits on. One ``findall`` serves
    the common text with no Nl/No numerals in a word."""
    ws = _LETTERS_AND_NUMERALS.findall(text)
    if all(map(str.isalpha, ws)):
        return ws
    return ["".join(run) for w in ws for alpha, run in groupby(w, str.isalpha) if alpha]

#: The oracle's split of ``text`` on ``WORD_BOUNDARY``, empty tokens kept.
SPLIT_WORDS_SQL = f"string_split_regex(text, '{WORD_BOUNDARY}')"

#: The oracle's ``tokenize("text")``: the words of ``text``, in order.
WORDS_SQL = f"list_filter({SPLIT_WORDS_SQL}, x -> len(x) > 0)"

def words_cte(source: str = "documents") -> str:
    """The oracle's word-array CTE ``w(doc_id, ws)`` over the ``source``
    relation (any ``documents``-shaped table or CTE)."""
    return f"""
  w AS (
    SELECT doc_id,
           {WORDS_SQL} AS ws
    FROM {source}
  )"""


def tokenize(col: Column | str) -> Column:
    """contents -> array<string> of words, empty tokens removed.

    Go's ``FieldsFunc`` never yields empty strings; Spark's ``split`` yields
    empty leading/trailing tokens, so filter them (SURVEY.md §2.2 fine points).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, WORD_BOUNDARY), lambda w: F.length(w) > 0)


def exploded_words(df, text_col: str = "contents", out_col: str = "word"):
    """df + one row per word occurrence in ``text_col``."""
    return df.select("*", F.explode(tokenize(text_col)).alias(out_col))


def word_kgrams(ws: Column, k: int) -> Column:
    """word array -> array of its word k-grams in position order (k words
    joined by single spaces); empty when there are fewer than k words.

    Each k-gram is ``array_join(slice(ws, i, k))`` inside the transform
    lambda: ONE array access per k-gram. The tempting per-index form
    (``concat_ws(' ', ws[i], ws[i+1], …)``) is ~45× slower measured at
    sf0.1: higher-order-function lambdas evaluate interpreted, and after
    CollapseProject inlines ``ws``, every ``ws[i+j]`` access re-evaluates
    the filter(split(text)) token-array tree — k regex splits of the full
    document per k-gram.

    The ``monotonically_increasing_id() >= 0`` conjunct (always true) is a
    deliberate optimizer barrier: nondeterminism makes CollapseProject
    keep the token array materialized in its own projection (instead of
    inlining it into the interpreted lambda, one re-split per k-gram) and
    makes PushDownPredicate keep an explode-inferred filter
    (``size(kgrams) > 0``) ABOVE this projection — without it the filter
    is pushed into the scan with the whole tokenize+k-gram tree
    substituted in twice, tripling the build. Net effect measured at
    sf0.1: one build per row instead of ~3 re-splits per k-gram; the
    whole-span-pipeline noop write drops 7s -> 0.6s. So select ``ws`` in
    its own projection first (``fan_out(docs).select(tokenize(...))``)
    and build the k-grams over that column.
    """
    return F.when(
        (F.size(ws) >= k) & (F.monotonically_increasing_id() >= 0),
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - k + 1),
            lambda i: F.array_join(F.slice(ws, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def kgram_sql(k: int) -> str:
    """The oracle's k-gram starting at word ``ws[i]``: k words joined by
    single spaces (``ws[i] || ' ' || ws[i+1] || …``)."""
    return " || ' ' || ".join("ws[i]" if j == 0 else f"ws[i+{j}]" for j in range(k))


def shingle_ctes(k: int, name: str = "sh", source: str = "documents") -> str:
    """The oracle's ``words_cte(source)`` plus ``name(doc_id, s)``: each
    document's distinct word k-grams (the twin of a per-document
    ``array_distinct`` of ``word_kgrams``)."""
    return f"""{words_cte(source)},
  {name} AS (
    SELECT DISTINCT doc_id, {kgram_sql(k)} AS s
    FROM w, unnest(generate_series(1, len(ws) - {k - 1})) AS t(i)
  )
"""
