"""P14-adjacent DOM structure metrics — the Spark expression of the
reference's DOM analyzer (metadata/dom_analyzer.py, 702 LoC), regex-path
parity (its `_analyze_with_regex`, :253-280, which is the env-honest
branch here: no lxml/BS4 in this container, and the reference ships the
same fallback):

* element counting: every open tag `<(\\w+)...>` over the RAW page, like
  the reference's element_pattern scan (closing tags and comments don't
  match; self-closing/void tags count once);
* visible text length: tags stripped, whitespace squeezed — exactly the
  reference's `re.sub(r"<[^>]+>", " ", html)` estimate;
* text_to_html ratio is reported as the exact integer pair
  (vis_text_len, html_len) — design rule: no float crosses the oracle;
* depth/branching: a forgiving open/close stack walk (void elements and
  self-closing tags don't push; unmatched closes are ignored) — the
  regex analogue of `_analyze_depth_complexity` (:324+);
* structure flags as counts: headings/h1 (heading_elements :161),
  semantic elements (semantic_elements set :144-160), forms/inputs/
  buttons, images and alt coverage, absolute vs relative links,
  comments, scripts (interactive/media element census :69-81).

Pure function + one Arrow mapInPandas wrapper (no shuffle, column-pruned
two-column input — embarrassingly parallel at 100 TB).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.extraction.canonical import _TAG, collapse_ws, decode_html

_OPEN_TAG = re.compile(r"<([a-zA-Z]\w*)(\s[^>]*)?>")
_ANY_TAG = re.compile(r"<(/?)([a-zA-Z]\w*)(?:\s[^>]*)?(/?)>")
_COMMENT_OPEN = re.compile(r"<!--")
_HREF_ABS = re.compile(r"\bhref\s*=\s*[\"']https?://", re.I)
_HREF_ANY = re.compile(r"<a\b[^>]*\bhref\s*=", re.I)
_ALT_ATTR = re.compile(r"\balt\s*=", re.I)

# reference dom_analyzer.py:144-160 (semantic_elements)
_SEMANTIC = frozenset(
    "main article section nav aside header footer figure figcaption "
    "time mark details summary".split()
)
_HEADINGS = frozenset(f"h{i}" for i in range(1, 7))
# HTML void elements: never pushed on the depth stack
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_DEPTH_CAP = 512  # runaway-nesting guard; deeper pages report the cap


def dom_stats(raw: bytes | str) -> dict:
    """All DOM metrics for one page as a flat dict of ints."""
    s = raw if isinstance(raw, str) else decode_html(raw)

    tag_counts: dict[str, int] = {}
    n_imgs_alt = 0
    n_links_abs = n_links = 0
    n_forms = n_inputs = n_buttons = n_scripts = 0
    for m in _OPEN_TAG.finditer(s):
        t = m.group(1).lower()
        tag_counts[t] = tag_counts.get(t, 0) + 1
        if t == "img" and _ALT_ATTR.search(m.group(0)):
            n_imgs_alt += 1
        elif t == "a" and _HREF_ANY.match(m.group(0)):
            n_links += 1
            if _HREF_ABS.search(m.group(0)):
                n_links_abs += 1

    n_elements = sum(tag_counts.values())
    n_headings = sum(tag_counts.get(h, 0) for h in _HEADINGS)
    n_semantic = sum(tag_counts.get(t, 0) for t in _SEMANTIC)

    # depth walk: forgiving (void/self-closing tags don't push; a close
    # pops to the nearest matching open, unmatched closes are ignored)
    depth = max_depth = 0
    stack: list[str] = []
    for m in _ANY_TAG.finditer(s):
        closing, t, selfclose = m.group(1), m.group(2).lower(), m.group(3)
        if closing:
            if t in stack:
                while stack and stack[-1] != t:
                    stack.pop()
                if stack:
                    stack.pop()
                depth = len(stack)
        elif t not in _VOID and not selfclose:
            if len(stack) < _DEPTH_CAP:
                stack.append(t)
            depth = len(stack)
            max_depth = max(max_depth, depth)

    vis = collapse_ws(_TAG.sub(" ", s))
    return {
        "n_elements": n_elements,
        "n_distinct_tags": len(tag_counts),
        "max_depth": max_depth,
        "vis_text_len": len(vis),
        "html_len": len(s),
        "n_headings": n_headings,
        "n_h1": tag_counts.get("h1", 0),
        "n_semantic": n_semantic,
        "n_forms": tag_counts.get("form", 0),
        "n_inputs": tag_counts.get("input", 0),
        "n_buttons": tag_counts.get("button", 0),
        "n_imgs": tag_counts.get("img", 0),
        "n_imgs_with_alt": n_imgs_alt,
        "n_links": n_links,
        "n_links_abs": n_links_abs,
        "n_comments": len(_COMMENT_OPEN.findall(s)),
        "n_scripts": tag_counts.get("script", 0),
    }


DOM_STATS_FIELDS = (
    "n_elements", "n_distinct_tags", "max_depth", "vis_text_len",
    "html_len", "n_headings", "n_h1", "n_semantic", "n_forms", "n_inputs",
    "n_buttons", "n_imgs", "n_imgs_with_alt", "n_links", "n_links_abs",
    "n_comments", "n_scripts",
)
DOM_STATS_SCHEMA = "url string, " + ", ".join(f"{f} int" for f in DOM_STATS_FIELDS)


def with_dom_stats(pages: DataFrame) -> DataFrame:
    """(url, html) → one integer metrics row per page, Arrow-batched."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", *DOM_STATS_FIELDS]
        for pdf in batches:
            rows = []
            for u, h in zip(pdf["url"], pdf["html"]):
                r = dom_stats(h)
                r["url"] = u
                rows.append(r)
            out = pd.DataFrame(rows, columns=cols)
            for f in DOM_STATS_FIELDS:
                out[f] = out[f].astype("int32")
            yield out

    return pages.select("url", "html").mapInPandas(compute, schema=DOM_STATS_SCHEMA)
