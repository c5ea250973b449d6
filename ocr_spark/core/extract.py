"""Unified per-document extraction entry: bytes in → structured result out.

This is the pure-Python core the Spark job ships via --py-files and invokes
from ``mapInArrow`` (one call per row, many rows per Arrow batch — the
*batching* is Arrow's; this function is the per-document kernel).

Payload routing:
  * ``%OCRFIX1\\n`` magic → layout-fixture document (the PDF path);
  * anything else        → HTML (boilerplate-strip path).

Output contract (FIXTURES.md §2): byte-stable ``text`` per url, plus
``blocks`` / ``spans`` / ``matches`` struct lists. Document text for
multi-page documents joins page texts with ``"\\f"`` (pages themselves are
assembled with the reference's empty separator, services.py:153).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ocr_spark.core.fixture_extract import extract_fixture_document
from ocr_spark.core.html_extract import extract_html

FIXTURE_MAGIC = b"%OCRFIX1\n"
PAGE_SEP = "\f"


@dataclass
class ExtractResult:
    url: str
    kind: str                      # 'html' | 'fixture' | 'error'
    text: str = ""
    blocks: list[dict] = field(default_factory=list)
    spans: list[dict] = field(default_factory=list)
    matches: list[dict] = field(default_factory=list)
    n_pages: int = 0
    n_blocks_dropped: int = 0
    error: str | None = None


def _extract_html_doc(url: str, raw: bytes) -> ExtractResult:
    html = raw.decode("utf-8", errors="replace")
    text, blocks = extract_html(html)
    out_blocks = []
    dropped = 0
    for b in blocks:
        if not b.is_content:
            dropped += 1
            continue
        out_blocks.append({
            "block_id": len(out_blocks),
            "page_index": 0,
            "label": b.label,
            "bbox": b.bbox,
            "text": b.text,
            "char_start": b.char_start,
            "char_end": b.char_end,
            "section_info": None,
        })
    return ExtractResult(url=url, kind="html", text=text, blocks=out_blocks,
                         n_pages=1, n_blocks_dropped=dropped)


def _extract_fixture_doc(url: str, raw: bytes) -> ExtractResult:
    result = extract_fixture_document(raw[len(FIXTURE_MAGIC):])
    page_texts = [p["text"] for p in result["pages"]]
    doc_text = PAGE_SEP.join(page_texts)

    # char offsets keyed by the page's OWN page_index (fixtures may
    # number pages 1-based or sparsely; positional indexing would point
    # a page's blocks into its neighbor's region of doc_text)
    page_start: dict[int, int] = {}
    pos = 0
    for p_row in result["pages"]:
        page_start[p_row["page_num"]] = pos
        pos += len(p_row["text"]) + len(PAGE_SEP)

    blocks: list[dict] = []
    spans: list[dict] = []
    for page in result["structured_pages"]:
        p = page["page_index"]
        # per-page running offset over text boxes (A5 empty separator)
        offset = page_start.get(p, -1)
        for box in page["boxes"]:
            label = box.get("label")
            btext = None
            char_start = char_end = -1
            if label == "text":
                btext = box.get("_paragraph")
                if btext is None:  # box not visited by the text pass
                    glyphs = box.get("glyphs") or []
                    try:
                        from ocr_spark.core.lines import reconstruct_lines
                        btext = " ".join(
                            reconstruct_lines([g["text"] for g in glyphs],
                                              [g["box"] for g in glyphs]))
                    except Exception:
                        btext = ""
                if offset >= 0:
                    char_start = offset
                    char_end = offset + len(btext)
                    offset = char_end
            elif "text" in box:
                btext = box["text"]  # merged caption text (J1)
            blocks.append({
                "block_id": len(blocks),
                "page_index": p,
                "label": label,
                "bbox": [float(c) for c in box["coordinate"]],
                "text": btext,
                "char_start": char_start,
                "char_end": char_end,
                "section_info": box.get("section_info"),
            })
            for ref in box.get("ref_info") or []:
                spans.append({
                    "figure_text": ref["figure_text"],
                    "text_box": [float(c) for c in ref["text_box"]],
                    "raw_text": ref["raw_text"],
                    "section_info": ref["section_info"],
                })

    return ExtractResult(
        url=url, kind="fixture", text=doc_text, blocks=blocks, spans=spans,
        matches=result["matches"], n_pages=len(result["pages"]),
    )


def extract_document(url: str, raw: bytes) -> ExtractResult:
    """Route + extract one document; never raises — data errors become
    failure rows (failure_reason feeds the lineage table, SURVEY.md §7.6)."""
    try:
        if raw is None:
            return ExtractResult(url=url, kind="error", error="null_html")
        if isinstance(raw, memoryview):
            raw = raw.tobytes()
        if raw.startswith(FIXTURE_MAGIC):
            return _extract_fixture_doc(url, raw)
        return _extract_html_doc(url, raw)
    except Exception as exc:  # noqa: BLE001 — per-row capture by design
        return ExtractResult(url=url, kind="error",
                             error=f"{type(exc).__name__}: {exc}")
