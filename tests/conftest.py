from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark("ocr_spark-tests", master="local[8]", shuffle_partitions=16)
    yield s
    s.stop()


@pytest.fixture()
def crash(monkeypatch):
    """``crash(point, n)``: a context in which the nth commit unit it
    publishes fails with ``RuntimeError("injected failure <point>, unit
    <n>")`` at ``point`` (SURVEY.md §5.2.5):

      * ``after_stage``   — its publish raises: data and record staged,
        nothing published;
      * ``after_publish`` — its table export raises: the pointer swap
        committed the unit, its table rows are missing;
      * ``after_wave``    — its table export runs, then it raises."""
    from contextlib import contextmanager

    from ocr_spark import job
    from ocr_spark.sources import iceberg_shim as shim

    @contextmanager
    def at(point: str, n: int):
        published: list[str] = []

        def fail():
            raise RuntimeError(
                f"injected failure {point.replace('_', ' ')}, unit {n}")

        publish, export = shim.publish_snapshot, job.export_wave_tables

        def publish_counted(root, sid):
            if point == "after_stage" and len(published) + 1 == n:
                fail()
            publish(root, sid)
            published.append(sid)

        def export_then(work_dir, manifest):
            nth = published[n - 1:n] == [manifest["snapshot_id"]]
            if nth and point == "after_publish":
                fail()
            written = export(work_dir, manifest)
            if nth and point == "after_wave":
                fail()
            return written

        with monkeypatch.context() as mp:
            mp.setattr(shim, "publish_snapshot", publish_counted)
            mp.setattr(job, "export_wave_tables", export_then)
            yield

    return at
