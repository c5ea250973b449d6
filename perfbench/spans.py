"""Outside-in tracer: spans recorded around the program's public calls.

Nothing inside ``ocr_spark/`` is edited. ``Tracer.install`` replaces each
wrapped function on the module object its callers look it up on, and
``Tracer.uninstall`` restores the originals:

  * ``sources.iceberg_shim``: ``prepare_snapshot``, ``publish_snapshot``,
    ``history`` (``job.py`` calls them through the module, and the shim
    calls its own functions through module globals);
  * ``operators.bookkeeping.completed_buckets_by_snapshot`` (``job.py``
    imports it inside the calling function, so the module attribute is
    what it binds);
  * ``ocr_spark.job``: ``run_extraction``, ``commit_bucket_bookkeeping``
    and ``_roll_forward_orphans``, which ``job.py`` binds by name at import
    time and therefore must be patched in its namespace.

The benchmark's own calls to the job entry points are spans too
(``Tracer.span``). Spans are kept in memory and written as one JSON file
per traced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager

# (module, attribute) pairs wrapped by install(); see the module docstring.
WRAPPED = [
    ("ocr_spark.sources.iceberg_shim", "prepare_snapshot"),
    ("ocr_spark.sources.iceberg_shim", "publish_snapshot"),
    ("ocr_spark.sources.iceberg_shim", "history"),
    ("ocr_spark.operators.bookkeeping", "completed_buckets_by_snapshot"),
    ("ocr_spark.job", "run_extraction"),
    ("ocr_spark.job", "commit_bucket_bookkeeping"),
    ("ocr_spark.job", "_roll_forward_orphans"),
]


def _table_attr(args, kwargs) -> dict:
    """``table``: last path component of a shim call's table root, so
    extraction-output, curated and input-table commits can be told apart."""
    root = kwargs.get("table_root")
    if root is None:
        root = next((a for a in args if isinstance(a, str)), None)
    return {"table": os.path.basename(str(root).rstrip("/"))} if root else {}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "name": name, "attrs": attrs,
               "start": time.perf_counter(), "end": None}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def _wrap(self, module, attr: str):
        fn = getattr(module, attr)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"
        shim_call = module.__name__.endswith("iceberg_shim")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = _table_attr(args, kwargs) if shim_call else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        self._saved.append((module, attr, fn))
        setattr(module, attr, traced)

    def install(self) -> None:
        import importlib

        for mod_name, attr in WRAPPED:
            self._wrap(importlib.import_module(mod_name), attr)

    def uninstall(self) -> None:
        while self._saved:
            module, attr, fn = self._saved.pop()
            setattr(module, attr, fn)

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, **meta,
                       "spans": sorted(self.spans, key=lambda s: s["start"])},
                      fh, indent=1)


def total(spans: list[dict], name: str, **attrs) -> tuple[float, int]:
    """(summed seconds, call count) of the spans called ``name`` whose attrs
    include ``attrs``."""
    hit = [s for s in spans if s["name"] == name
           and all(s["attrs"].get(k) == v for k, v in attrs.items())]
    return sum(s["end"] - s["start"] for s in hit), len(hit)
