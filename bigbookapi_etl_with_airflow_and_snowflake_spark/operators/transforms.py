"""Scalar / projection transforms of the books and models pipelines.

Implements SURVEY.md §2.3 T1–T11 as one declarative ``select`` chain each —
the reference's row-at-a-time Python loop (reference scripts/transform.py:
25-39) and pandas coercions (:43-46) become Catalyst expressions that run
inside whole-stage codegen, so the same logic is columnar and distributed.

Coercion-parity notes (reference → Spark):
- ``int(float(x))`` (transform.py:43)  → ``cast(string as double) → cast(long)``
  (accepts "3.0"-style strings, truncates toward zero, null passthrough)
- ``pd.to_numeric(errors='coerce')`` (transform.py:45) → ``cast(double)``
  (garbage → null in both)
- ``rating * 100`` (transform.py:46) → same float64 arithmetic, so
  0.8100000023841858 → 81.00000023841858 bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import BOOK_STRUCT


def read_raw_books(spark, path: str) -> DataFrame:
    """Read the raw-zone book dump → one row per API record (still wrapped).

    The reference's raw dump (K1, reference scripts/extract.py:75-80) is a
    single pretty-printed JSON array whose elements are **single-element
    arrays** wrapping each book (FIXTURES.md F1) — or bare book objects,
    which the reference also accepts (``book[0] if isinstance(book, (list,
    tuple)) else book``, scripts/transform.py:26). A JSON-array-of-arrays is
    not line-delimited, so we read whole-file text and parse with an
    explicit schema via ``from_json`` — no inference, schema drift fails at
    the scan. An all-wrapper dump parses in one typed pass; one bare
    object nulls that parse, and only then does the top level re-parse as
    ``array<string>`` (each element keeps its own JSON text) with each
    element parsed on its own — an array as the wrapper, a bare object as a
    one-element wrapper. A mixed-in bare object therefore cannot empty the
    dump, wrapper-only dumps (the extract's output) pay no second parse,
    and the read stays one task with no extra job. At scale the bronze zone
    is JSONL (one wrapped record per line), which the same ``from_json``
    handles via the normal line reader.
    """
    elems = F.from_json(F.col("value"), T.ArrayType(T.StringType()))
    per_element = F.transform(
        elems,
        lambda e: F.when(
            e.startswith("["), F.from_json(e, T.ArrayType(BOOK_STRUCT))
        ).otherwise(F.array(F.from_json(e, BOOK_STRUCT))),
    )
    wrapped = F.coalesce(
        F.from_json(F.col("value"), T.ArrayType(T.ArrayType(BOOK_STRUCT))),
        per_element,
    )
    raw = spark.read.text(path, wholetext=True)
    return raw.select(F.explode(wrapped).alias("wrapped"))


def unwrap_book(wrapped: Column) -> Column:
    """T1 — unwrap the API's 1-element-list row encoding.

    Reference: ``book[0] if isinstance(book, (list, tuple)) else book``
    (scripts/transform.py:26). Here the wrapper is typed array<struct>, so
    unwrap is ``try_element_at(col, 1)`` — an empty wrapper yields a null
    book (the caller filters those) instead of failing the whole job, a
    deliberate hardening over the reference (whose ``[][0]`` raises).
    """
    return F.try_element_at(wrapped, F.lit(1))


def transform_books(df: DataFrame, wrapped_col: str = "wrapped") -> DataFrame:
    """T1–T8 as a single select chain (reference scripts/transform.py:9-46).

    Input: one column ``wrapped_col`` of type array<BOOK_STRUCT>.
    Output: the canonical ``books`` schema (id, title, image, genres,
    rating, author_id, author_name) — ``subtitle`` dropped (T4).
    """
    b = unwrap_book(F.col(wrapped_col))
    df = df.filter(b.isNotNull())
    authors = F.coalesce(b["authors"], F.array().cast(BOOK_STRUCT["authors"].dataType))
    return df.select(
        # T5: lossy integer coercion int(float(x)) — via double for "3.0"
        # strings; try_cast = null-on-garbage under ANSI mode
        b["id"].try_cast("double").try_cast("long").alias("id"),
        b["title"].alias("title"),
        b["image"].alias("image"),
        b["genres"].alias("genres"),
        # T2 nested-struct extraction (null-safe), T7 coercing cast, T8 ×100 rescale
        # string→double try_cast nulls garbage (= pd.to_numeric errors='coerce')
        (b["rating"]["average"].try_cast("double") * F.lit(100.0)).alias("rating"),
        # T3 array-of-structs projection + T6 element cast to string
        F.transform(authors, lambda a: a["id"].cast("string")).alias("author_id"),
        F.transform(authors, lambda a: a["name"]).alias("author_name"),
    )


def standardize_models(df: DataFrame) -> DataFrame:
    """T9–T11 — standardize raw HuggingFace model records.

    Reference semantics (huggingface_extract.py:39-44,85-86 (pyc)):
    rename id→model_id / lastModified→last_modified (T10), falsy→default
    for author / pipeline_tag / tags (T9), drop null-or-empty model_id
    rows (T11). Keep-first dedup (D1) lives in ``operators.dedup``.
    """
    empty_to_null = lambda c: F.when(F.length(F.col(c)) > 0, F.col(c))  # noqa: E731
    out = df.select(
        F.col("id").cast("string").alias("model_id"),
        empty_to_null("author").alias("author"),
        empty_to_null("pipeline_tag").alias("pipeline_tag"),
        F.coalesce(F.col("tags"), F.array().cast("array<string>")).alias("tags"),
        F.col("lastModified").cast("timestamp").alias("last_modified"),
    )
    return out.filter(F.col("model_id").isNotNull() & (F.col("model_id") != ""))
