"""Seeded input corpora for the benchmark workloads.

Crawl rows come from ``ocr_spark.gen.corpus.make_row``: ~3.5 KB
Common-Crawl-style HTML pages, one hot host carrying ~50% of rows, every
eighth row a layout-fixture document (``i % 8 == 7``) and no oversized rows.
Row ``i`` is a pure function of ``(seed, i)``, so the base snapshot and every
appended increment use disjoint index ranges and therefore disjoint urls.

The layout-skew corpus needs more fixture documents than ``make_row`` can
give: ``make_row(fixture_frac > 1/8)`` yields none at all, because
``i % int(1 / frac) == 7`` never holds below modulus 8. Its odd rows are
therefore built with ``gen.fixture_docs.make_fixture_doc`` directly.

Each piece is written once as a Parquet file under the benchmark's cache
directory, keyed by (workload, seed); later runs with the same key reuse it.
Generation happens before any timed window.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.gen.corpus import FIXTURE_MAGIC, make_row
from ocr_spark.gen.fixture_docs import make_fixture_doc

BASE_PAGES = 1000        # the committed base snapshot / warm-job input
INCREMENT_PAGES = 500    # each appended snapshot
CRAWL_PAGES = 20_000     # crawl_html's fresh snapshot
SKEW_DOCS = 4000         # layout_skew's fresh snapshot: half fixture docs
FIXTURE_FRAC = 1 / 8     # make_row's fixture rows are i % 8 == 7

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _crawl_rows(seed: int, start: int, n: int) -> list[dict]:
    return [make_row(i, seed=seed, n_rows=start + n, fixture_frac=FIXTURE_FRAC,
                     oversized_rows=0)
            for i in range(start, start + n)]


def _skew_rows(seed: int, n: int) -> list[dict]:
    """Odd rows are fixture documents; even rows are HTML pages, of which
    rows ``n // 2`` and ``3n // 4`` (``n`` a multiple of 8) are ~10 MB."""
    rows = []
    for i in range(n):
        row = make_row(i, seed=seed, n_rows=n, fixture_frac=0,
                       oversized_rows=3)
        if i % 2:
            doc = make_fixture_doc(random.Random(f"{seed}:fixture:{i}"),
                                   doc_id=f"doc{i}")
            row["url"] = row["url"].replace("/page/", "/doc/") + ".pdf"
            row["html"] = FIXTURE_MAGIC + json.dumps(
                doc, ensure_ascii=False).encode("utf-8")
            row["text"] = ""
        rows.append(row)
    return rows


class Corpus:
    """The pages of one (workload, seed), each piece cached as Parquet under
    ``cache_dir``."""

    def __init__(self, cache_dir: str, seed: int):
        self.cache_dir = cache_dir
        self.seed = seed
        os.makedirs(cache_dir, exist_ok=True)

    def _piece(self, name: str, make_rows) -> str:
        path = os.path.join(self.cache_dir, f"{name}.parquet")
        if not os.path.exists(path):
            rows = make_rows()
            table = pa.table({f.name: [r[f.name] for r in rows]
                              for f in PAGES_ARROW_SCHEMA},
                             schema=PAGES_ARROW_SCHEMA)
            tmp = f"{path}.{os.getpid()}.tmp"
            pq.write_table(table, tmp)
            os.replace(tmp, path)
        return path

    def base(self) -> str:
        return self._piece(f"base-{BASE_PAGES}",
                           lambda: _crawl_rows(self.seed, 0, BASE_PAGES))

    def increment(self, k: int) -> str:
        start = BASE_PAGES + k * INCREMENT_PAGES
        return self._piece(f"rows-{start}-{INCREMENT_PAGES}",
                           lambda: _crawl_rows(self.seed, start,
                                               INCREMENT_PAGES))

    def crawl(self) -> str:
        return self._piece(f"crawl-{CRAWL_PAGES}",
                           lambda: _crawl_rows(self.seed, 0, CRAWL_PAGES))

    def layout_skew(self) -> str:
        return self._piece(f"skew-{SKEW_DOCS}",
                           lambda: _skew_rows(self.seed, SKEW_DOCS))

    @staticmethod
    def read(path: str, columns: list[str] | None = None) -> list[dict]:
        return pq.read_table(path, columns=columns).to_pylist()
