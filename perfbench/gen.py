"""Seeded input generator with exact answers known by construction.

Every table is a pure function of (seed, size): rows derive from a doc id
``doc = offset(seed) + row // DUP`` through integer mixers that Spark SQL and
numpy evaluate identically (non-negative longs, no overflow), so the
benchmark writes inputs with Spark in parallel and recomputes every exact
distinct count on the driver with numpy.

pages:   (url, warc_ts, html, text, lang) plus the derived ``site`` — one
         url per doc (DUP rows each), ~50k Zipf-skewed sites, 7 skewed langs,
         a distinct text per doc and a distinct warc_ts within each doc.
events:  (domain, lang, bucket, user) — a stored-rollup source over ~100k
         Zipf-skewed domains, one distinct user per row.
"""

from __future__ import annotations

import numpy as np

DUP = 3
P31 = 2147483647  # 2^31 - 1
EPOCH_S = 1735689600  # 2025-01-01T00:00:00Z
N_SITES = 50_000
N_DOMAINS = 100_000
N_BUCKETS = 16
LANGS = [("en", 55), ("zh", 15), ("es", 10), ("de", 8), ("fr", 6), ("ru", 4), ("ja", 2)]
WORDS = ("the of and to in page data web site crawl text lang index query spark "
         "distinct sketch merge url html body title doc corpus token shard batch").split()


def doc_offset(seed: int) -> int:
    """First doc id of a seed's tables; seeds map to disjoint id ranges."""
    return (seed % 4096 + 1) << 28


# -- the shared integer mixers, as SQL and as numpy --------------------------


def _x0_sql(k: str) -> str:
    return f"pmod({k} * 48271, {P31})"


def _x1_sql(k: str) -> str:
    return f"pmod({_x0_sql(k)} * 16807 + 12345, {P31})"


def _zipf_sql(k: str, n: int) -> str:
    # floor(u^3 · n) for a uniform 21-bit u, in steps that stay below 2^42:
    # a hot head and a long tail over up to 2^21 distinct keys
    s = f"shiftright({_x0_sql(k)}, 10)"
    return f"shiftright(shiftright(shiftright({s} * {s}, 21) * {s}, 21) * {n}, 21)"


def _lang_sql(k: str) -> str:
    code, lo, arms = f"pmod({_x1_sql(k)}, 100)", 0, []
    for name, width in LANGS:
        lo += width
        arms.append(f"WHEN {code} < {lo} THEN '{name}'")
    return "CASE " + " ".join(arms) + " END"


def _x0(k: np.ndarray) -> np.ndarray:
    return (k * 48271) % P31


def _x1(k: np.ndarray) -> np.ndarray:
    return (_x0(k) * 16807 + 12345) % P31


def _zipf(k: np.ndarray, n: int) -> np.ndarray:
    s = _x0(k) >> 10
    return ((((s * s) >> 21) * s >> 21) * n) >> 21


def _lang(k: np.ndarray) -> np.ndarray:
    code = _x1(k) % 100
    out = np.empty(len(k), dtype="U2")
    lo = 0
    for name, width in LANGS:
        out[(code >= lo) & (code < lo + width)] = name
        lo += width
    return out


# -- pages ---------------------------------------------------------------------


def pages_df(spark, seed: int, n_rows: int, n_parts: int, batch_rows: int | None = None):
    """The pages table as a lazy DataFrame over spark.range; ``batch_rows``
    adds a ``batch`` column (row // batch_rows) for pre-split micro-batches."""
    off = doc_offset(seed)
    words = "array(" + ", ".join(f"'{w}'" for w in WORDS) + ")"
    body = "concat_ws(' ', " + ", ".join(
        f"element_at({words}, cast(pmod(doc * {7 + 2 * i} + {_x1_sql('doc')}, {len(WORDS)}) + 1 as int))"
        for i in range(6)
    ) + ")"
    df = spark.range(0, n_rows, 1, n_parts).selectExpr(
        "id", f"{off} + div(id, {DUP}) AS doc"
    ).selectExpr(
        "id", "doc",
        f"concat('https://site', lpad(cast({_zipf_sql('doc', N_SITES)} AS string), 5, '0'), "
        f"'.example/', lower(hex(doc))) AS url",
        f"timestamp_seconds({EPOCH_S} + pmod({off * DUP} + id, 86400)) AS warc_ts",
        f"concat('doc ', cast(doc AS string), '\\n', {body}) AS text",
        f"{_lang_sql('doc')} AS lang",
        f"lpad(cast({_zipf_sql('doc', N_SITES)} AS string), 5, '0') AS site",
    ).selectExpr(
        "*", "cast(concat('<html><head><title>', text, '</title></head><body></body></html>') AS binary) AS html"
    )
    cols = ["url", "warc_ts", "html", "text", "lang", "site"]
    if batch_rows:
        df = df.selectExpr("*", f"cast(div(id, {batch_rows}) AS int) AS batch")
        cols.append("batch")
    return df.select(*cols)


class PagesTruth:
    """Exact answers for rows [0, n_rows) of a seed's pages table."""

    def __init__(self, seed: int, n_rows: int):
        off = doc_offset(seed)
        self.n_rows = n_rows
        self.docs = off + np.arange(-(-n_rows // DUP), dtype=np.int64)
        self.site = _zipf(self.docs, N_SITES)
        self.lang = _lang(self.docs)
        rows = np.arange(n_rows, dtype=np.int64)
        self.ts = EPOCH_S + (off * DUP + rows) % 86400
        self.row_lang = self.lang[rows // DUP]

    def docs_upto(self, rows: int) -> int:
        return -(-rows // DUP)

    def by_lang(self, rows: int | None = None) -> dict[str, int]:
        lang = self.lang[: self.docs_upto(rows)] if rows is not None else self.lang
        names, counts = np.unique(lang, return_counts=True)
        return {str(k): int(v) for k, v in zip(names, counts)}

    def by_site(self) -> dict[str, int]:
        counts = np.bincount(self.site, minlength=N_SITES)
        return {f"{s:05d}": int(c) for s, c in enumerate(counts) if c}


# -- events (rollup source) ----------------------------------------------------


def events_df(spark, seed: int, n_rows: int, n_parts: int):
    off = doc_offset(seed)
    return spark.range(0, n_rows, 1, n_parts).selectExpr(
        f"{_zipf_sql(f'(id + {off})', N_DOMAINS)} AS domain",
        f"{_lang_sql(f'(id + {off})')} AS lang",
        f"cast(pmod(id, {N_BUCKETS}) AS int) AS bucket",
        f"{off} + id AS user",
    )


class EventsTruth:
    """Exact distinct users per domain (prefix sums for range queries) and
    per (lang, bucket) cube cell."""

    def __init__(self, seed: int, n_rows: int):
        off = doc_offset(seed)
        rows = np.arange(n_rows, dtype=np.int64)
        keys = rows + off
        counts = np.bincount(_zipf(keys, N_DOMAINS), minlength=N_DOMAINS)
        self.prefix = np.concatenate([[0], np.cumsum(counts)])
        lang = _lang(keys)
        bucket = rows % N_BUCKETS
        self.cells: dict[tuple, int] = {}
        for name, _ in LANGS:
            m = lang == name
            for b, c in enumerate(np.bincount(bucket[m], minlength=N_BUCKETS)):
                self.cells[(name, b)] = int(c)

    def range_count(self, lo: int, hi: int) -> int:
        """Distinct users over domains lo..hi inclusive."""
        return int(self.prefix[hi + 1] - self.prefix[lo])
