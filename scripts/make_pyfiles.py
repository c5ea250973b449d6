#!/usr/bin/env python
"""Package the pure-Python core for spark-submit --py-files.

The zip is reproducible: entries are written in sorted walk order with a
fixed timestamp and fixed permissions, so the same tree always yields the
same bytes (rebuilding never dirties the committed dist/ocr_spark.zip)."""
import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DATE_TIME = (1980, 1, 1, 0, 0, 0)  # earliest timestamp a zip can hold
_MODE = 0o644 << 16                 # -rw-r--r-- in the external attrs


def main(out: str | None = None) -> str:
    if out is None:
        dist = os.path.join(ROOT, "dist")
        os.makedirs(dist, exist_ok=True)
        out = os.path.join(dist, "ocr_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(ROOT, "ocr_spark")
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                # .txt: the SymSpell en-80k dictionary; .json: model
                # artifacts (layout_stub_v1.json) — both loaded via
                # importlib.resources, which works from inside the zip
                if fn.endswith((".py", ".txt", ".json")):
                    full = os.path.join(dirpath, fn)
                    info = zipfile.ZipInfo(os.path.relpath(full, ROOT),
                                           date_time=_DATE_TIME)
                    info.external_attr = _MODE
                    info.compress_type = zipfile.ZIP_DEFLATED
                    with open(full, "rb") as fh:
                        zf.writestr(info, fh.read())
    print(out)
    return out


if __name__ == "__main__":
    main()
