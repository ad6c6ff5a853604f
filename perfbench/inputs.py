"""Seeded inputs of the `etl_bulk` workload: the fake BigBookAPI behind P1
(FIXTURES.md §F1) and the fake HuggingFace listing behind P3 (§F3).

Every record is a pure function of (seed, global index): page ``p`` of the
API is drawn from ``default_rng([seed, BOOKS, p])`` and listing ``i`` from
``default_rng([seed, LISTINGS, i // 1000])`` at slot ``i % 1000``. Both are
generated on demand, so the benchmark process holds no copy of the input
and its peak RSS is the program's.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import numpy as np

PAGE = 100  # BigBookAPI page size (FetchPolicy.page_size)
_BOOKS, _FAIL, _LISTINGS = 1, 2, 3
_CHUNK = 1000
_GENRES = "action adventure comedy crime drama fantasy history horror mystery romance thriller".split()
_LISTING_T0 = dt.datetime(2026, 1, 1)
_TASKS = ("text-generation", "fill-mask", "translation")


# --- P1: BigBookAPI ----------------------------------------------------------


def book_page(seed: int, page: int) -> list:
    """The wrapped records of API page ``page`` (FIXTURES.md §F1):
    ~97 % single-element wrappers ``[book]`` and ~3 % empty wrappers ``[]``;
    in the books, ~29 % absent ``image``, ~19 % ``subtitle``, ~3 % each of
    ``authors: []``, absent ``authors``, absent ``rating`` and
    ``rating: {}`` (absent ``average``)."""
    rng = np.random.default_rng([seed, _BOOKS, page])
    u = rng.random((PAGE, 5)).tolist()
    n_auth = rng.integers(1, 4, PAGE).tolist()
    n_gen = rng.integers(1, 7, PAGE).tolist()
    avg = rng.uniform(0.628, 0.932, PAGE).tolist()
    out: list = []
    for k, (u_wrap, u_img, u_sub, u_auth, u_rat) in enumerate(u):
        i = page * PAGE + k
        if u_wrap < 0.03:
            out.append([])
            continue
        b: dict = {"id": i + 1, "title": f"Book {i} of seed {seed}"}
        if u_img >= 0.29:
            b["image"] = f"https://img.bigbook.test/{i + 1}.jpg"
        if u_sub < 0.19:
            b["subtitle"] = f"Subtitle {i}"
        if u_auth >= 0.06:
            b["authors"] = [
                {"id": a, "name": f"Author {a}"}
                for a in ((i * 7 + j) % 100_003 for j in range(n_auth[k]))
            ]
        elif u_auth < 0.03:
            b["authors"] = []
        b["genres"] = [_GENRES[(i + j) % len(_GENRES)] for j in range(n_gen[k])]
        if u_rat >= 0.06:
            b["rating"] = {"average": avg[k]}
        elif u_rat < 0.03:
            b["rating"] = {}
        out.append([b])
    return out


def count_books(seed: int, n_pages: int) -> int:
    """Non-empty wrappers on the first ``n_pages`` pages, without building them."""
    return sum(
        int((np.random.default_rng([seed, _BOOKS, p]).random((PAGE, 5))[:, 0] >= 0.03).sum())
        for p in range(n_pages)
    )


def first_attempt_fails(seed: int, page: int) -> bool:
    """A seeded ~1 % of pages fail their first request with ConnectionError."""
    return bool(np.random.default_rng([seed, _FAIL, page]).random() < 0.01)


class BookApi:
    """Fake paginated API: ``(offset, number) -> (records, headers)`` over
    ``n_pages`` pages, then an empty page. Counts its calls and the time
    spent serving them, so the trace can subtract the fake's own cost."""

    def __init__(self, seed: int, n_pages: int) -> None:
        self.seed, self.n_pages = seed, n_pages
        self.calls = 0
        self.served = 0
        self._failed: set[int] = set()

    def __call__(self, offset: int, number: int) -> tuple[list, dict]:
        if number != PAGE:
            raise ValueError(f"fake API serves pages of {PAGE}, asked for {number}")
        self.calls += 1
        page = offset // PAGE
        if page >= self.n_pages:
            return [], {}
        if page not in self._failed and first_attempt_fails(self.seed, page):
            self._failed.add(page)
            raise ConnectionError(f"injected failure on page {page}")
        self.served += 1
        return book_page(self.seed, page), {"X-API-Quota-Used": str(self.served)}


def expected_book(book: dict) -> dict:
    """The P1 transform rules (FIXTURES.md §F1) applied in plain Python."""
    authors = book.get("authors") or []
    avg = (book.get("rating") or {}).get("average")
    return {
        "id": book["id"],
        "title": book["title"],
        "image": book.get("image"),
        "genres": book["genres"],
        "rating": None if avg is None else avg * 100.0,
        "author_id": [str(a["id"]) for a in authors],
        "author_name": [a["name"] for a in authors],
    }


# --- P3: HuggingFace listing --------------------------------------------------


def listing(seed: int, n: int) -> Iterator[dict]:
    """``n`` raw listing items, newest first (FIXTURES.md §F3). Model ids are
    drawn from ``2.2 n`` slots, so ~20 % repeat an earlier id; ~1 % ids are
    ``""`` and ~0.5 % None; ``author`` and ``pipeline_tag`` are falsy
    (``""`` or None) in ~10 %; ``tags`` is None or ``[]`` in ~10 %.
    ``lastModified`` strictly decreases, so keep-first is well defined."""
    slots = max(1, int(2.2 * n))
    for c0 in range(0, n, _CHUNK):
        rng = np.random.default_rng([seed, _LISTINGS, c0 // _CHUNK])
        ids = rng.integers(0, slots, _CHUNK).tolist()
        u = rng.random((_CHUNK, 4)).tolist()
        for k in range(min(_CHUNK, n - c0)):
            m, (u_id, u_auth, u_tag, u_tags) = ids[k], u[k]
            if u_id < 0.01:
                mid = ""
            elif u_id < 0.015:
                mid = None
            else:
                mid = f"org{m % 97}/model-{m}"
            yield {
                "id": mid,
                "author": f"org{m % 97}" if u_auth >= 0.1 else ("" if u_auth < 0.05 else None),
                "pipeline_tag": (
                    _TASKS[m % 3] if u_tag >= 0.1 else ("" if u_tag < 0.05 else None)
                ),
                "tags": (
                    [f"t{m % 13}", f"seed{seed}"] if u_tags >= 0.1 else ([] if u_tags < 0.05 else None)
                ),
                "lastModified": (_LISTING_T0 - dt.timedelta(seconds=c0 + k)).isoformat(" "),
            }


def keep_first_models(items) -> dict[str, tuple]:
    """Reference P3 semantics in plain Python: falsy → default, drop empty
    ids, first occurrence wins. Values are the sqlite row
    ``(author, pipeline_tag, tags_json, last_modified)``."""
    import json

    seen: dict[str, tuple] = {}
    for m in items:
        mid = m["id"]
        if not mid or mid in seen:
            continue
        tags = json.dumps(list(m["tags"] or []), separators=(",", ":"))
        seen[mid] = (m["author"] or None, m["pipeline_tag"] or None, tags, m["lastModified"])
    return seen


# --- P3 sink state (run as a script, so the benchmark's RSS stays the program's)

MODEL_COLUMNS = [
    ("model_id", "VARCHAR(255)"),
    ("author", "VARCHAR(255)"),
    ("pipeline_tag", "VARCHAR(255)"),
    ("tags", "TEXT"),
    ("last_modified", "TIMESTAMP"),
]
_STALE = ("stale-author", None, "[]", "2020-01-01 00:00:00")
_N_UNLISTED = 500


def _prior_rows(seed: int, n: int):
    """The table before P3: every second distinct listed id and 500 ids the
    listing never names, all with stale values."""
    seen: set[str] = set()
    for m in listing(seed, n):
        mid = m["id"]
        if mid and mid not in seen:
            if len(seen) % 2 == 0:
                yield (mid, *_STALE)
            seen.add(mid)
    for k in range(_N_UNLISTED):
        yield (f"unlisted/model-{k}", *_STALE)


def sqlite_connect(path: str):
    """The P3 connection factory. Importing sqlite3 here, in the worker,
    also registers its default datetime adapter, which the upsert of
    ``last_modified`` needs."""
    import sqlite3

    return sqlite3.connect(path, timeout=60)


def seed_models_db(path: str, seed: int, n: int) -> None:
    """The prior table, created with the DDL the upsert writer itself uses."""
    import sqlite3

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.jdbc import ensure_table_sql

    con = sqlite3.connect(path)
    try:
        con.execute(ensure_table_sql("ai_models", MODEL_COLUMNS, primary_key="model_id"))
        con.executemany("INSERT INTO ai_models VALUES (?, ?, ?, ?, ?)", _prior_rows(seed, n))
        con.commit()
    finally:
        con.close()


def check_models_db(path: str, seed: int, n: int) -> dict:
    """Compare the table after P3 with the keep-first upsert of the listing
    over the prior state, computed in plain Python."""
    import sqlite3

    want = {k: _STALE for k, *_ in _prior_rows(seed, n)}
    want.update(keep_first_models(listing(seed, n)))
    con = sqlite3.connect(path)
    try:
        got = {r[0]: tuple(r[1:]) for r in con.execute("SELECT * FROM ai_models")}
    finally:
        con.close()
    bad = [k for k in want.keys() | got.keys() if want.get(k) != got.get(k)]
    return {"ok": not bad, "rows": len(got), "expected_rows": len(want),
            "mismatches": [(k, want.get(k), got.get(k)) for k in sorted(bad)[:5]]}


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description="P3 sqlite state: seed it, or check it")
    ap.add_argument("action", choices=["seed", "check"])
    ap.add_argument("--db", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--n", type=int, required=True)
    a = ap.parse_args()
    if a.action == "seed":
        seed_models_db(a.db, a.seed, a.n)
    else:
        print(json.dumps(check_models_db(a.db, a.seed, a.n)))
