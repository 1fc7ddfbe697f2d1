"""P18: structured-content extraction — tables, code blocks, images, links.

From-scratch regex/balanced-block reimplementation of the semantics of the
reference's multimodal content lists (ExtractedContent.tables / code_blocks
/ images / links — src/quarrycore/protocols.py:212-220, populated by
src/quarrycore/extractor/content_processors.py): each HTML page yields
typed arrays alongside the main text. Spark shape: ARRAY<STRUCT<...>>
columns computed in one Arrow-batched pass (SURVEY §1 "multimodal lists →
ARRAY<STRUCT<...>>").

Pure deterministic functions (golden-testable without Spark) + one
mapInPandas wrapper.
"""

from __future__ import annotations

import html as _html
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.extraction.canonical import (
    _COMMENT,
    _SCRIPT,
    _STYLE,
    _TAG,
    _find_balanced_blocks,
    collapse_ws,
    decode_html,
)

_A_TAG = re.compile(r"<a\b[^>]*\bhref\s*=\s*([\"'])(.*?)\1[^>]*>(.*?)</a\s*>",
                    re.I | re.S)
_IMG_TAG = re.compile(r"<img\b[^>]*>", re.I)
_ATTR = {
    name: re.compile(rf"\b{name}\s*=\s*([\"'])(.*?)\1", re.I | re.S)
    for name in ("src", "alt")
}
_PRE_START = re.compile(r"<pre\b[^>]*>", re.I)
_CODE_START = re.compile(r"<code\b[^>]*>", re.I)
_TABLE_START = re.compile(r"<table\b[^>]*>", re.I)
_TR_START = re.compile(r"<tr\b[^>]*>", re.I)
_CELL_START = re.compile(r"<(?:td|th)\b[^>]*>", re.I)


def _clean_text(fragment: str) -> str:
    return collapse_ws(_html.unescape(_TAG.sub(" ", fragment)))


def _strip_noise(s: str) -> str:
    s = _SCRIPT.sub(" ", s)
    s = _STYLE.sub(" ", s)
    return _COMMENT.sub(" ", s)


def extract_links(raw: bytes | str) -> list[dict]:
    """[{href, text}] for every anchor with an href (reference keeps both
    the target and the anchor text for link-graph metadata)."""
    s = _strip_noise(raw if isinstance(raw, str) else decode_html(raw))
    return [
        {"href": m.group(2).strip(), "text": _clean_text(m.group(3))}
        for m in _A_TAG.finditer(s)
    ]


def extract_images(raw: bytes | str) -> list[dict]:
    """[{src, alt}] for every <img> (alt may be empty)."""
    s = _strip_noise(raw if isinstance(raw, str) else decode_html(raw))
    out = []
    for m in _IMG_TAG.finditer(s):
        tag = m.group(0)
        src = _ATTR["src"].search(tag)
        if not src:
            continue
        alt = _ATTR["alt"].search(tag)
        out.append(
            {
                "src": src.group(2).strip(),
                "alt": _clean_text(alt.group(2)) if alt else "",
            }
        )
    return out


def extract_code_blocks(raw: bytes | str) -> list[str]:
    """Text of every <pre> block, plus <code> blocks OUTSIDE any <pre>
    (a <pre><code>…</code></pre> pair counts once — the reference's
    code-block processor dedups the nesting the same way). Whitespace
    inside code is collapsed like all extracted text (the dedup pipeline
    normalizes it anyway)."""
    s = _strip_noise(raw if isinstance(raw, str) else decode_html(raw))
    blocks: list[str] = []
    spans: list[tuple[int, int]] = []
    i = 0
    while True:
        m = _PRE_START.search(s, i)
        if not m:
            break
        inner = _find_balanced_blocks(s[m.start() :], _PRE_START, "pre")
        if not inner:
            break
        blocks.append(_clean_text(inner[0]))
        end = m.end() + len(inner[0])
        spans.append((m.start(), end))
        i = end
    for m in _CODE_START.finditer(s):
        if any(a <= m.start() < b for a, b in spans):
            continue
        inner = _find_balanced_blocks(s[m.start() :], _CODE_START, "code")
        if inner:
            blocks.append(_clean_text(inner[0]))
    return [b for b in blocks if b]


def extract_tables(raw: bytes | str) -> list[list[list[str]]]:
    """Every <table> as rows of cell texts (td/th), nested-table content
    flattened into the outer cell like the reference's processor."""
    s = _strip_noise(raw if isinstance(raw, str) else decode_html(raw))
    tables = []
    for tbl in _find_balanced_blocks(s, _TABLE_START, "table"):
        rows = []
        for tr in _find_balanced_blocks(tbl, _TR_START, "tr"):
            cells = [
                _clean_text(c)
                for c in _find_balanced_blocks(tr, _CELL_START, r"(?:td|th)")
            ]
            if cells:
                rows.append(cells)
        if rows:
            tables.append(rows)
    return tables


STRUCTURED_SCHEMA = (
    "url string, links array<struct<href:string,text:string>>, "
    "images array<struct<src:string,alt:string>>, "
    "code_blocks array<string>, tables array<array<array<string>>>"
)


def with_structured_content(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → (url, links, images, code_blocks, tables):
    the P18 columns in one Arrow pass, no shuffle; join back on url when a
    caller wants them alongside the extraction table."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            links, images, codes, tables = [], [], [], []
            for raw in pdf["html"]:
                b = bytes(raw) if raw is not None else b""
                try:
                    links.append(extract_links(b))
                    images.append(extract_images(b))
                    codes.append(extract_code_blocks(b))
                    tables.append(extract_tables(b))
                except Exception:  # noqa: BLE001 — dead-letter shape: empty lists
                    links.append([])
                    images.append([])
                    codes.append([])
                    tables.append([])
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "links": links,
                    "images": images,
                    "code_blocks": codes,
                    "tables": tables,
                }
            )

    return pages.select("url", "html").mapInPandas(compute, schema=STRUCTURED_SCHEMA)
