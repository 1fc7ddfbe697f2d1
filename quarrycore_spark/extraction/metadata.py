"""P14: full page-metadata extraction — OpenGraph, Twitter Cards,
Schema.org JSON-LD, standard meta tags, canonical URL, publication date,
and authorship.

From-scratch regex reimplementation of the reference's metadata stack
semantics (no BS4/dateutil in this env; the reference itself ships regex
fallbacks for both):

- structured data: reference `metadata/structured_data_parser.py`
  (OpenGraphParser.parse:88-117 property="og:*" scan with urljoin for
  image/url; TwitterCardParser.parse:256-280 name="twitter:*";
  SchemaOrgParser.parse_json_ld:128-155 <script type=application/ld+json>;
  extract_schema_fields:204-252 field mapping with nested name/@id and
  list-head handling, later items overwriting earlier; standard meta +
  canonical link, parse_all:295-355)
- merged title/description: reference `metadata_extractor.py:318-331`
  (og_title else schema_title; og_description else schema_description;
  og_image as featured image)
- publication date: reference `date_extractor.py` multi-strategy cascade
  (extract_publication_date:154-206): JSON-LD date fields (datePublished/
  publishDate 0.95, others 0.85 — :226-252), meta-tag selectors
  (article:* 0.9, others 0.8 — :123-137, :262-293), <time datetime> 0.85
  (:322-371), URL path patterns 0.75 (:110-118, :374-407), content
  patterns 0.6+0.1 context boost capped 0.8 (:410-451); candidates sorted
  by confidence, filtered by _is_reasonable_date (1990..now+1yr,
  not future — :545-559). Confidences here are integer percent so no
  float crosses the oracle boundary.
- authors: reference `author_extractor.py` cascade
  (extract_authors:171-218): JSON-LD author 0.9 (:220-259 with
  Person/Organization/name-list handling :261-285), meta tags 0.7
  (:286-317), author-class CSS analogue 0.6 (:318-368), byline patterns
  0.5-i*0.1 (:112-118, :369-409); name validation (:448-500), prefix
  stripping (AuthorInfo.__post_init__:76-96), dedup by normalized name
  keeping max confidence (:547-585).

Pure deterministic functions (golden-testable without Spark) + one
mapInPandas wrapper producing flat string/int columns.
"""

from __future__ import annotations

import html as _html
import json
import re
from collections.abc import Iterator
from datetime import datetime, timezone
from urllib.parse import urljoin, urlparse

import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.extraction.canonical import (
    _TAG,
    _WS,
    _strip_ssc,
    collapse_ws,
    decode_html,
)

# ---------------------------------------------------------------------------
# Generic tag/attribute scanning (attribute-order-independent, unlike the
# reference's regex fallback which requires property-before-content)
# ---------------------------------------------------------------------------

_META_TAG = re.compile(r"<meta\b[^>]*>", re.I)
_LINK_TAG = re.compile(r"<link\b[^>]*>", re.I)
_TIME_TAG = re.compile(r"<time\b[^>]*>", re.I)
_TITLE = re.compile(r"<title\b[^>]*>(.*?)</title\s*>", re.I | re.S)
_ATTR = re.compile(r"([a-zA-Z][\w:.-]*)\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))")
_JSON_LD = re.compile(
    r"<script\b[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>(.*?)</script\s*>",
    re.I | re.S,
)


def _attrs(tag: str) -> dict[str, str]:
    return {
        m.group(1).lower(): _html.unescape(m.group(3) or m.group(4) or m.group(5) or "")
        for m in _ATTR.finditer(tag)
    }


def _clean(s: str) -> str:
    return collapse_ws(_html.unescape(_TAG.sub(" ", s)))


# ---------------------------------------------------------------------------
# Structured data: OpenGraph / Twitter / JSON-LD / standard meta / canonical
# ---------------------------------------------------------------------------

# JSON-LD field mapping — reference extract_schema_fields:217-228. Dict
# order is semantic: name → headline → title all target schema_title and
# later PRESENT keys overwrite earlier ones (the reference iterates the
# mapping dict and assigns unconditionally).
_SCHEMA_FIELD_MAP = (
    ("name", "schema_title"),
    ("headline", "schema_title"),
    ("title", "schema_title"),
    ("description", "schema_description"),
    ("author", "schema_author"),
    ("datePublished", "schema_date_published"),
    ("dateModified", "schema_date_modified"),
    ("image", "schema_image"),
    ("publisher", "schema_publisher"),
)


def _schema_scalar(value) -> str | None:
    """Nested-object collapse — reference extract_schema_fields:231-246:
    dict → name else @id; non-empty list → head (dict head → its name)."""
    if isinstance(value, dict):
        if "name" in value:
            return str(value["name"])
        if "@id" in value:
            return str(value["@id"])
        return None
    if isinstance(value, list):
        if not value:
            return None
        head = value[0]
        if isinstance(head, dict):
            return str(head["name"]) if "name" in head else None
        return str(head)
    return str(value)


def parse_json_ld(s: str) -> list[dict]:
    """All JSON-LD objects on the page (arrays flattened, invalid JSON
    skipped) — reference parse_json_ld:128-155."""
    out: list[dict] = []
    for m in _JSON_LD.finditer(s):
        try:
            data = json.loads(m.group(1).strip())
        except (json.JSONDecodeError, UnicodeDecodeError):
            continue
        items = data if isinstance(data, list) else [data]
        out.extend(i for i in items if isinstance(i, dict))
    return out


_ITEMSCOPE_TAG = re.compile(r"<(\w+)\b[^>]*\bitemscope\b[^>]*>", re.I)
_ITEMPROP_TAG = re.compile(r"<(\w+)\b[^>]*\bitemprop\s*=[^>]*>", re.I)
_TAG_CONTENT = re.compile(r">([^<]*)<")


def parse_microdata(s: str) -> dict[str, dict[str, str]]:
    """{itemtype: {prop: value}} for every itemscope element — reference
    SchemaOrgParser.parse_microdata (structured_data_parser.py:157-202):
    value source per tag is meta→content, time→datetime else text,
    img→src, a→href else text, anything else its text. Like the
    reference, later items of the same itemtype overwrite earlier ones
    and props of nested scopes are collected by the enclosing scope too
    (find_all is subtree-recursive there)."""
    out: dict[str, dict[str, str]] = {}
    for scope_m in _ITEMSCOPE_TAG.finditer(s):
        a = _attrs(scope_m.group(0))
        itemtype = a.get("itemtype", "")
        if not itemtype:
            continue
        # balanced extent of the scope element
        tagname = scope_m.group(1)
        tagre = re.compile(rf"<(/?){re.escape(tagname)}\b[^>]*>", re.I)
        depth, j, end = 1, scope_m.end(), len(s)
        while depth:
            m2 = tagre.search(s, j)
            if not m2:
                break
            depth += -1 if m2.group(1) else 1
            j = m2.end()
            if depth == 0:
                end = m2.start()
        inner = s[scope_m.end():end]
        props: dict[str, str] = {}
        for pm in _ITEMPROP_TAG.finditer(inner):
            pa = _attrs(pm.group(0))
            name = pa.get("itemprop")
            if not name:
                continue
            tag = pm.group(1).lower()
            if tag == "meta":
                value = pa.get("content", "")
            elif tag == "time":
                value = pa.get("datetime") or _text_after(inner, pm.end())
            elif tag == "img":
                value = pa.get("src", "")
            elif tag == "a":
                value = pa.get("href") or _text_after(inner, pm.end())
            else:
                value = _text_after(inner, pm.end())
            if value:
                props[name] = value.strip()
        if props:
            out[itemtype] = props
    return out


def _text_after(s: str, pos: int) -> str:
    """Text content immediately following an open tag at `pos` (the regex
    analogue of get_text(strip=True) for simple leaf elements)."""
    m = re.compile(r"([^<]*)").match(s, pos)
    return _clean(m.group(1)) if m else ""


def extract_structured_data(raw: bytes | str, base_url: str = "") -> dict:
    """One pass over the page's meta/link/script tags → the reference's
    StructuredDataResult field set (flat dict, absent fields missing).

    JSON-LD is parsed from the RAW page (scripts must survive); everything
    else scans the script/style/comment-stripped page so fake meta markup
    inside scripts or comments can't leak in.
    """
    s = raw if isinstance(raw, str) else decode_html(raw)
    json_ld = parse_json_ld(s)
    stripped = _strip_ssc(s)

    out: dict = {}
    for tag_m in _META_TAG.finditer(stripped):
        a = _attrs(tag_m.group(0))
        content = a.get("content", "")
        if not content:
            continue
        prop = a.get("property", "")
        name = a.get("name", "")
        if prop.startswith("og:"):
            clean = prop[3:].replace(":", "_")
            if clean in ("image", "url") and base_url:
                content = urljoin(base_url, content)
            out[f"og_{clean}"] = content
        elif prop.startswith("fb:"):
            out[f"fb_{prop[3:].replace(':', '_')}"] = content
        elif name.startswith("twitter:"):
            out[f"twitter_{name[8:].replace(':', '_')}"] = content
        elif name in ("description", "keywords", "author", "robots"):
            out[f"meta_{name}"] = content

    for item in json_ld:
        st = item.get("@type", "")
        if st:
            out["schema_type"] = st if isinstance(st, str) else str(st)
        for json_key, field in _SCHEMA_FIELD_MAP:
            value = item.get(json_key)
            if value:
                scalar = _schema_scalar(value)
                if scalar is not None:
                    out[field] = scalar

    m = _TITLE.search(stripped)
    if m:
        t = _clean(m.group(1))
        if t:
            out["meta_title"] = t

    micro = parse_microdata(stripped)
    if micro:
        out["raw_microdata"] = micro
        out["microdata_type"] = next(iter(micro))
        out["n_microdata_props"] = sum(len(p) for p in micro.values())

    for tag_m in _LINK_TAG.finditer(stripped):
        a = _attrs(tag_m.group(0))
        if a.get("rel", "").lower() == "canonical" and a.get("href"):
            href = a["href"]
            out["canonical_url"] = urljoin(base_url, href) if base_url else href
            break

    # merged headline fields — reference metadata_extractor.py:318-331
    title = out.get("og_title") or out.get("schema_title")
    if title:
        out["title"] = title
    desc = out.get("og_description") or out.get("schema_description")
    if desc:
        out["description"] = desc
    if out.get("og_image"):
        out["featured_image"] = out["og_image"]
    return out


# ---------------------------------------------------------------------------
# Publication date cascade
# ---------------------------------------------------------------------------

# JSON-LD date fields — reference date_extractor.py:227-236
_JSON_LD_DATE_FIELDS = (
    "datePublished", "dateCreated", "dateModified", "publishDate",
    "publicationDate", "created", "modified", "uploadDate",
)
# meta date tags — reference date_extractor.py:123-137 (property or name)
_META_DATE_KEYS = (
    "article:published_time", "article:modified_time", "publish_date",
    "publication_date", "date", "DC.date", "DC.date.created",
    "DC.date.issued", "sailthru.date", "article.published",
    "published-date", "release_date", "created",
)
_META_DATE_KEYSET = {k.lower() for k in _META_DATE_KEYS}
# URL path patterns — reference date_extractor.py:111-117
_URL_DATE_PATTERNS = tuple(
    re.compile(p)
    for p in (
        r"/(\d{4})/(\d{1,2})/(\d{1,2})/",
        r"/(\d{4})-(\d{1,2})-(\d{1,2})/",
        r"/(\d{4})(\d{2})(\d{2})/",
        r"_(\d{4})(\d{2})(\d{2})_",
        r"-(\d{4})-(\d{1,2})-(\d{1,2})-",
    )
)
# content patterns — reference date_extractor.py:80-104 (subset: the
# unambiguous ones; bare \d{10} unix-timestamp matching is omitted on
# purpose — on real pages it fires on phone numbers/ids far more often
# than on timestamps, and the reference itself ranks it last)
_CONTENT_DATE_PATTERNS = (
    (re.compile(
        r"\b(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?)\b"),
     "iso_datetime"),
    (re.compile(r"\b(\d{4}-\d{2}-\d{2})\b"), "iso_date"),
    (re.compile(r"\b(\d{1,2}/\d{1,2}/\d{4})\b"), "us_date"),
    (re.compile(
        r"\b((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{1,2},?\s+\d{4})\b",
        re.I), "month_name"),
)
_DATE_CONTEXT_WORDS = ("published", "posted", "created", "updated")

_TZ_SUFFIX = re.compile(r"[+-]\d{2}:?\d{2}$")
_COMMON_FORMATS = (
    "%Y-%m-%d", "%m/%d/%Y", "%d/%m/%Y", "%Y/%m/%d", "%m-%d-%Y", "%d-%m-%Y",
    "%m.%d.%Y", "%d.%m.%Y", "%B %d, %Y", "%b %d, %Y", "%d %B %Y", "%d %b %Y",
)


def parse_date_string(date_string: str) -> datetime | None:
    """Manual date parse — reference _manual_date_parse:493-543 (the
    no-dateutil branch, which is the env-honest one here)."""
    if not date_string:
        return None
    ds = str(date_string).strip()
    if "T" in ds:
        if ds.endswith("Z"):
            ds = ds[:-1]
        else:
            ds = _TZ_SUFFIX.sub("", ds)
        try:
            if "." in ds:
                return datetime.strptime(ds.split(".")[0], "%Y-%m-%dT%H:%M:%S")
            return datetime.strptime(ds, "%Y-%m-%dT%H:%M:%S")
        except ValueError:
            return None
    # month-name formats need the comma variants tried both ways
    for fmt in _COMMON_FORMATS:
        try:
            return datetime.strptime(ds, fmt)
        except ValueError:
            continue
    return None


def _is_reasonable_date(d: datetime, now: datetime | None = None) -> bool:
    """Reference _is_reasonable_date:545-559: 1990..now.year+1, not future."""
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    if d.year < 1990 or d.year > now.year + 1:
        return False
    return d <= now.replace(hour=23, minute=59, second=59)


def extract_publication_date(
    raw: bytes | str, url: str = "", text: str = ""
) -> tuple[str, str, int] | None:
    """Best publication date as (iso_date 'YYYY-MM-DD', method, confidence
    percent) — the reference's strategy cascade with integer confidence.
    Candidates keep strategy order within equal confidence (the reference's
    stable confidence sort)."""
    s = raw if isinstance(raw, str) else decode_html(raw)
    candidates: list[tuple[int, int, datetime, str]] = []  # (-conf, seq, date, method)
    seq = 0

    for item in parse_json_ld(s):
        for field in _JSON_LD_DATE_FIELDS:
            v = item.get(field)
            if v:
                d = parse_date_string(str(v))
                if d:
                    conf = 95 if field in ("datePublished", "publishDate") else 85
                    candidates.append((-conf, seq, d, "structured_data"))
                    seq += 1

    stripped = _strip_ssc(s)
    for tag_m in _META_TAG.finditer(stripped):
        a = _attrs(tag_m.group(0))
        key = (a.get("property") or a.get("name") or "").lower()
        if key in _META_DATE_KEYSET and a.get("content"):
            d = parse_date_string(a["content"])
            if d:
                conf = 90 if key.startswith("article:") else 80
                candidates.append((-conf, seq, d, "meta_tags"))
                seq += 1

    for tag_m in _TIME_TAG.finditer(stripped):
        a = _attrs(tag_m.group(0))
        v = a.get("datetime")
        if v:
            d = parse_date_string(v)
            if d:
                candidates.append((-85, seq, d, "time_element"))
                seq += 1

    if url:
        path = urlparse(url).path
        for pat in _URL_DATE_PATTERNS:
            for m in pat.finditer(path):
                y, mo, dy = m.groups()
                if len(y) == 4:
                    try:
                        d = datetime(int(y), int(mo), int(dy))
                    except ValueError:
                        continue
                    candidates.append((-75, seq, d, "url_pattern"))
                    seq += 1

    if not candidates:
        # content patterns are the reference's last resort (0.6 + context
        # boost, cap 0.8): only consulted when nothing structured matched,
        # since they can never outrank a structured hit anyway
        content = f"{stripped}\n{text}"
        for pat, _fmt in _CONTENT_DATE_PATTERNS:
            for m in pat.finditer(content):
                d = parse_date_string(m.group(1))
                if d:
                    conf = 60
                    ctx = content[max(0, m.start() - 50): m.end() + 50].lower()
                    if any(w in ctx for w in _DATE_CONTEXT_WORDS):
                        conf += 10
                    candidates.append((-min(80, conf), seq, d, "content_pattern"))
                    seq += 1

    candidates.sort(key=lambda c: (c[0], c[1]))
    for negconf, _seq, d, method in candidates:
        if _is_reasonable_date(d):
            return d.strftime("%Y-%m-%d"), method, -negconf
    return None


# ---------------------------------------------------------------------------
# Author cascade
# ---------------------------------------------------------------------------

_AUTHOR_CLASS_BLOCK = re.compile(
    r"<(\w+)\b[^>]*\b(?:class|id)\s*=\s*[\"'][^\"']*\b"
    r"(?:author|byline|writer)[\w-]*\b[^\"']*[\"'][^>]*>(.*?)</\1\s*>",
    re.I | re.S,
)
_REL_AUTHOR = re.compile(
    r"<a\b[^>]*\brel\s*=\s*[\"']author[\"'][^>]*>(.*?)</a\s*>", re.I | re.S
)
_BYLINE_PATTERNS = (
    re.compile(r"(?:by|author|written by|posted by)\s*:?\s*([a-zA-Z][a-zA-Z\s\-.']+)", re.I),
)
_NAME_PREFIXES = ("by ", "author: ", "written by ", "posted by ", "@")
_INVALID_NAME_PATTERNS = tuple(
    re.compile(p)
    for p in (
        r"^\d+$", r"^\w+@\w+\.\w+$", r"^https?://",
        r"^\d{1,2}[/\-]\d{1,2}",
        r"^(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)",
        r"^(monday|tuesday|wednesday|thursday|friday|saturday|sunday)",
    )
)
_COMMON_NON_NAMES = frozenset(
    "admin administrator author editor writer staff team news press media "
    "content article post blog website page home about contact privacy".split()
)
_HAS_LETTER = re.compile(r"[a-zA-Z]")


def _clean_author_name(name: str) -> str:
    """Prefix/suffix stripping — reference AuthorInfo.__post_init__:76-96."""
    name = collapse_ws(name)
    low = name.lower()
    for prefix in _NAME_PREFIXES:
        if low.startswith(prefix):
            name = name[len(prefix):].strip()
            break
    low = name.lower()
    for suffix in ("writes:", "says:", "reports:"):
        if low.endswith(suffix):
            name = name[: -len(suffix)].strip()
            break
    return name.strip(".,;:")


def is_valid_author_name(name: str) -> bool:
    """Reference _is_valid_author_name:448-500. The reference matches its
    invalid-patterns against the LOWERCASED name, which makes its
    `^[A-Z]{2,}$` acronym pattern unreachable — mirrored here (the pattern
    is omitted) rather than silently 'fixed', so behavior matches."""
    if not name or len(name) < 2 or len(name) > 100:
        return False
    low = name.lower()
    if any(p.match(low) for p in _INVALID_NAME_PATTERNS):
        return False
    if not _HAS_LETTER.search(name):
        return False
    return low not in _COMMON_NON_NAMES


def _normalize_author(name: str) -> str:
    """Dedup key — reference _normalize_name:587-641 (lower, squeeze,
    strip punctuation and honorifics)."""
    n = _WS.sub(" ", name.lower().strip())
    n = re.sub(r"[.,;:'\"()]", "", n)
    for prefix in ("by ", "author ", "dr ", "mr ", "ms ", "mrs ", "prof ", "professor "):
        if n.startswith(prefix):
            n = n[len(prefix):].strip()
            break
    return n


def extract_authors(raw: bytes | str, text: str = "") -> list[tuple[str, int, str]]:
    """[(name, confidence_pct, method)] sorted by confidence desc then
    first-seen — the reference cascade with its dedup-keep-best rule."""
    s = raw if isinstance(raw, str) else decode_html(raw)
    found: list[tuple[str, int, str]] = []

    for item in parse_json_ld(s):
        author = item.get("author")
        if not author:
            continue
        vals = author if isinstance(author, list) else [author]
        for v in vals:
            name = v if isinstance(v, str) else (
                v.get("name") if isinstance(v, dict) else None
            )
            if name:
                found.append((str(name), 90, "json_ld_schema"))

    stripped = _strip_ssc(s)
    for tag_m in _META_TAG.finditer(stripped):
        a = _attrs(tag_m.group(0))
        key = (a.get("name") or a.get("property") or "").lower()
        if key in ("author", "article:author", "dc.creator") and a.get("content"):
            if len(a["content"].strip()) > 1:
                found.append((a["content"].strip(), 70, "meta_tag"))

    # class-based selectors precede [rel=author] in the reference's
    # author_selectors list (author_extractor.py:125-137)
    for m in _AUTHOR_CLASS_BLOCK.finditer(stripped):
        t = _clean(m.group(2))
        if t and len(t) <= 100:
            found.append((t, 60, "css_selector"))
    for m in _REL_AUTHOR.finditer(stripped):
        t = _clean(m.group(1))
        if t:
            found.append((t, 60, "css_selector"))

    if text:
        for i, pat in enumerate(_BYLINE_PATTERNS):
            for m in pat.finditer(text):
                conf = 50 - i * 10
                if m.start() < len(text) * 0.2:
                    conf += 10
                found.append((m.group(1), conf, "pattern_matching"))

    best: dict[str, tuple[str, int, str, int]] = {}
    for seq, (raw_name, conf, method) in enumerate(found):
        name = _clean_author_name(raw_name)
        if not is_valid_author_name(name):
            continue
        key = _normalize_author(name)
        cur = best.get(key)
        if cur is None or conf > cur[1]:
            best[key] = (name, conf, method, cur[3] if cur else seq)
    ranked = sorted(best.values(), key=lambda b: (-b[1], b[3]))
    return [(n, c, m) for n, c, m, _ in ranked]


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

# Flat output schema: strings nullable, counters int. No floats anywhere
# (design rule: nothing float-typed crosses the oracle boundary).
_STRING_COLS = (
    "title", "description", "featured_image",
    "og_title", "og_description", "og_image", "og_url", "og_type",
    "og_site_name", "og_locale",
    "twitter_card", "twitter_title", "twitter_description", "twitter_image",
    "twitter_site", "twitter_creator",
    "schema_type", "schema_title", "schema_description", "schema_author",
    "schema_date_published", "schema_date_modified", "schema_publisher",
    "meta_title", "meta_description", "meta_keywords", "meta_author",
    "meta_robots", "canonical_url", "microdata_type",
    "published_date", "date_method", "author", "author_method",
)
PAGE_METADATA_SCHEMA = (
    "url string, "
    + ", ".join(f"{c} string" for c in _STRING_COLS)
    + ", date_confidence_pct int, author_confidence_pct int, n_authors int"
    + ", n_microdata_props int"
)


def page_metadata_row(url: str, html: bytes | str, text: str = "") -> dict:
    """All P14 fields for one page (pure; exercised by golden tests and the
    Spark operator alike)."""
    sd = extract_structured_data(html, base_url=url)
    row: dict = {"url": url}
    for c in _STRING_COLS:
        row[c] = sd.get(c)
    date = extract_publication_date(html, url=url, text=text)
    if date:
        row["published_date"], row["date_method"], conf = date
        row["date_confidence_pct"] = conf
    else:
        row["date_confidence_pct"] = None
    authors = extract_authors(html, text=text)
    if authors:
        row["author"], row["author_confidence_pct"], row["author_method"] = authors[0]
    else:
        row["author_confidence_pct"] = None
    row["n_authors"] = len(authors)
    row["n_microdata_props"] = sd.get("n_microdata_props", 0)
    return row


def with_page_metadata(pages: DataFrame) -> DataFrame:
    """P14 as a Spark stage: (url, html) → one flat metadata row per page,
    Arrow-batched. Pure per-row work — no shuffle; rides whatever
    partitioning the scan gives (100-TB shape: embarrassingly parallel,
    column-pruned input of exactly two columns)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", *list(_STRING_COLS),
                "date_confidence_pct", "author_confidence_pct", "n_authors",
                "n_microdata_props"]
        for pdf in batches:
            rows = [
                page_metadata_row(u, h)
                for u, h in zip(pdf["url"], pdf["html"])
            ]
            out = pd.DataFrame(rows, columns=cols)
            for ic in ("date_confidence_pct", "author_confidence_pct",
                       "n_authors", "n_microdata_props"):
                out[ic] = out[ic].astype("Int32")
            yield out

    return pages.select("url", "html").mapInPandas(compute, schema=PAGE_METADATA_SCHEMA)
