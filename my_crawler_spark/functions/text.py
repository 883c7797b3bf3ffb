"""Extraction + chunking semantics for the image+caption payload.

Graft mapping (SURVEY.md §2.4): a fetched "page" is an image+caption row;
the caption plays the role of the DOM text. The reference's extraction
pipeline is re-expressed over it:

- blocks       <- extract_content_blocks (caption paragraphs, '\\n\\n'-split)
- title        <- extract_title analogue: first line's first 60 chars,
                  default "No Title" (shared_crawler_api/src/lib.rs:35-37)
- description  <- extract_description fallback branch
                  (spider/src/extractor.rs:38-59): whitespace-normalized
                  blocks >= 20 chars joined, 247-char cut, "..." suffix
- chunks       <- create_chunks/split_text greedy packer, constants
                  TARGET=800 / MAX=1200 / UNBROKEN=450 **chars** (CJK-safe,
                  spider/src/index.rs:11-13,42-130)
- page_version <- sha256 over (title, heading, description, content, '\\0')
                  per chunk (spider/src/qdrant.rs:168-178)
- point_id     <- UUIDv5(NAMESPACE_URL, "url\\0version\\0index")
                  (spider/src/qdrant.rs:188-194)

These are plain-Python kernels called from Arrow batches (mapInPandas) and
from the sequential oracle — one definition, two execution paths.
"""

from __future__ import annotations

import hashlib
import uuid

TARGET_CHARS = 800  # index.rs:11
MAX_CHARS = 1_200  # index.rs:12
UNBROKEN_CHARS = 450  # index.rs:13
DESC_MAX = 247  # extractor.rs:15
DESC_MIN_BLOCK = 20  # extractor.rs:16
DEFAULT_TITLE = "No Title"  # lib.rs:35-37


def caption_blocks(caption: str) -> list[str]:
    """Paragraph split — the graft's extract_content_blocks."""
    return [p.strip() for p in caption.split("\n\n") if p.strip()]


def caption_title(caption: str) -> str:
    first = caption.strip().split("\n", 1)[0][:60].strip()
    return first if first else DEFAULT_TITLE


def normalize_ws(text: str) -> str:
    """clean_description_text (extractor.rs:62-64)."""
    return " ".join(text.split())


def description_from_blocks(blocks: list[str]) -> str:
    """extract_description fallback branch (extractor.rs:38-59).

    Quirk ported on purpose: the "..." suffix check is on the *byte* length
    of the char-truncated string (`result.len()` is bytes in Rust).
    """
    joined = " ".join(
        t for t in (normalize_ws(b) for b in blocks) if len(t) >= DESC_MIN_BLOCK
    )
    result = joined.strip()[:DESC_MAX]
    if len(result.encode("utf-8")) >= DESC_MAX - 1:
        result += "..."
    return result


def split_text(text: str) -> list[str]:
    """split_text (index.rs:98-130): window to MAX chars, break at the last
    whitespace strictly after the window start, else hard-cut at UNBROKEN."""
    if len(text) <= MAX_CHARS:
        return [text]
    pieces: list[str] = []
    n = len(text)
    start = 0
    while start < n:
        max_end = min(start + MAX_CHARS, n)
        if max_end == n:
            end = max_end
        else:
            end = next(
                (i for i in range(max_end - 1, start, -1) if text[i].isspace()),
                min(start + UNBROKEN_CHARS, n),
            )
        pieces.append(text[start:end].strip())
        start = end
        while start < n and text[start].isspace():
            start += 1
    return pieces


def create_chunks(blocks: list[tuple[str | None, str]]) -> list[tuple[str, str | None]]:
    """create_chunks (index.rs:42-96) -> [(content, heading)].

    Heading inheritance quirk ported exactly: a MAX-overflow flush emits the
    *pre-update* heading; a TARGET flush emits the heading already updated by
    the current block.
    """
    chunks: list[tuple[str, str | None]] = []
    current = ""
    heading: str | None = None

    def push(content: str, h: str | None) -> None:
        if content.strip():
            chunks.append((content.strip(), h))

    for block_heading, block_text in blocks:
        for piece in split_text(block_text):
            added = len(piece) + (1 if current else 0)
            if current and len(current) + added > MAX_CHARS:
                push(current, heading)
                current = ""
            if current:
                current += " "
            current += piece
            heading = block_heading if block_heading is not None else heading
            if len(current) >= TARGET_CHARS:
                push(current, heading)
                current = ""
    if current.strip():
        push(current, heading)
    return chunks


def page_version(chunks: list[dict]) -> str:
    """sha256 over (title, heading, description, content, '\\0') per chunk
    (qdrant.rs:168-178)."""
    h = hashlib.sha256()
    for c in chunks:
        h.update((c.get("page_title") or "").encode())
        h.update((c.get("chunk_heading") or "").encode())
        h.update((c.get("description") or "").encode())
        h.update((c.get("chunk_content") or "").encode())
        h.update(b"\0")
    return h.hexdigest()


def point_id(url: str, version: str, index: int) -> str:
    """UUIDv5(NAMESPACE_URL, url\\0version\\0index) (qdrant.rs:188-194)."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"{url}\0{version}\0{index}"))


def extract_caption_page(url: str, caption: str) -> dict:
    """extract_page analogue (index.rs:26-40) for the image payload.

    -> {title, description, chunks: [{chunk_content, chunk_heading,
        chunk_index, page_title, description, source_url, page_version,
        point_id}]}
    """
    blocks = caption_blocks(caption or "")
    title = caption_title(caption or "")
    description = description_from_blocks(blocks)
    packed = create_chunks([(None, b) for b in blocks])
    chunks = [
        {
            "chunk_content": content,
            "chunk_heading": heading,
            "chunk_index": i,
            "page_title": title,
            "description": description,
            "source_url": url,
        }
        for i, (content, heading) in enumerate(packed)
    ]
    version = page_version(chunks)
    for c in chunks:
        c["page_version"] = version
        c["point_id"] = point_id(url, version, c["chunk_index"])
    return {"title": title, "description": description, "chunks": chunks}


def needs_browser(html: str) -> bool:
    """SPA heuristic (crawl_loop.rs:274-284): empty page, or an app-root
    marker without any <p>/<article>. Drives the browser-fallback fetch
    path (S3); ``needs_browser_expr`` is the JVM-side twin used inside
    the fetch join."""
    if not html.strip():
        return True
    lower = html.lower()
    has_app_root = (
        'id="app"' in lower
        or 'id="root"' in lower
        or "__next_data__" in lower
        or "data-reactroot" in lower
    )
    return has_app_root and "<p" not in lower and "<article" not in lower


def needs_browser_expr(body_col):
    """Native-column twin of ``needs_browser`` — stays in codegen inside
    the fetch join (no Python on the hot path)."""
    from pyspark.sql import functions as F

    lower = F.lower(F.coalesce(body_col, F.lit("")))

    def has(s: str):
        return F.instr(lower, s) > 0

    empty = F.trim(lower) == ""
    has_root = (
        has('id="app"') | has('id="root"') | has("__next_data__") | has("data-reactroot")
    )
    return empty | (has_root & ~has("<p") & ~has("<article"))
