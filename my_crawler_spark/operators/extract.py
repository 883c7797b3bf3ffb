"""Fetch-extract for the image+caption payload (E1-E10, S10).

One Arrow-batched mapInPandas stage per crawl round:
decode ``bytes`` by sniffing (png / fake-lossy), verify the stored
``phash`` against the decoded pixels (per-row invariant,
BASELINE.json input_hint), pair the ``caption`` and run the reference's
extraction pipeline on it (title/description/greedy chunker — semantics in
functions/text.py, constants index.rs:11-13), emitting a chunks
array-of-struct per page which the runner posexplodes into the chunks sink
(chunk_index <- posexplode ordinal, qdrant.rs:118).

No per-row Python UDFs: decode+extract batch over Arrow record batches;
the embedding (S10 stand-in: hash-seeded gaussian, unit-normalized —
replaces the TEI e5 HTTP call, qdrant.rs:143-159) is a scalar pandas_udf.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql import Column

from .. import codecs
from ..functions.text import (
    caption_blocks,
    caption_title,
    create_chunks,
    description_from_blocks,
    page_version,
)

# uuid.NAMESPACE_URL, the namespace point_id() hashes under (RFC 4122)
_UUID_NS_URL = bytearray.fromhex("6ba7b8119dad11d180b400c04fd430c8")


def point_id_expr(url: Column, version: Column, index: Column) -> Column:
    """JVM twin of functions.text.point_id (UUIDv5 over url\\0version\\0idx).

    RFC 4122 v5: sha1(namespace_bytes + name_utf8), first 16 bytes, with
    the version nibble forced to 5 and the variant nibble to 10xx — done
    here as string surgery on the sha1 hex (positions 13 and 17), so the
    per-chunk id costs one sha1 in codegen instead of a Python uuid call
    per row (guide §4.1: the chunk sink is the crawl's hot loop)."""
    name = F.concat(url, F.lit("\x00"), version, F.lit("\x00"), index.cast("string"))
    h = F.sha1(F.concat(F.lit(bytes(_UUID_NS_URL)), F.encode(name, "UTF-8")))
    v = F.conv(F.substring(h, 17, 1), 16, 10).cast("int")
    variant = F.element_at(
        F.array(F.lit("8"), F.lit("9"), F.lit("a"), F.lit("b")), (v % 4) + 1
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )

EMBED_DIM = 384  # e5-small dimension (qdrant.rs:50, compose.yml:17-18)

CHUNK_STRUCT = StructType(
    [
        StructField("chunk_content", StringType()),
        StructField("chunk_heading", StringType()),
        StructField("chunk_index", LongType()),
        StructField("page_title", StringType()),
        StructField("description", StringType()),
        StructField("source_url", StringType()),
        StructField("page_version", StringType()),
        StructField("point_id", StringType()),
    ]
)


def _caption_page_fields(caption: str) -> tuple[str, str, str, list[dict]]:
    """The url-INDEPENDENT part of extract_caption_page: (title,
    description, page_version, chunk template rows). page_version hashes
    only (title, heading, description, content) — never the url — so the
    whole expensive text pipeline is a pure function of the caption."""
    blocks = caption_blocks(caption or "")
    title = caption_title(caption or "")
    description = description_from_blocks(blocks)
    packed = create_chunks([(None, b) for b in blocks])
    version = page_version(
        [
            {
                "page_title": title,
                "chunk_heading": heading,
                "description": description,
                "chunk_content": content,
            }
            for content, heading in packed
        ]
    )
    tpl = [
        {"chunk_content": c, "chunk_heading": h, "chunk_index": i}
        for i, (c, h) in enumerate(packed)
    ]
    return title, description, version, tpl


def image_decode_stats(images: DataFrame) -> DataFrame:
    """Decode each DISTINCT image ONCE -> (image_id, caption, decode_ok,
    phash_ok, phash_got, page_title, description, page_version,
    chunks_tpl).

    The images table is keyed by image_id while fetches reference it
    many-to-one (the same payload appears on many pages), so decoding on
    the fetch side would repeat identical work fan-out times — with the
    real JPEG codec that repetition dominated the crawl's extract phase.
    The same argument holds for the caption TEXT pipeline (blocks, title,
    description, chunker, page_version): none of it depends on the
    fetching page's url, so it runs here once per image instead of once
    per fetch — the r6 profile showed the per-fetch extract Python as the
    single biggest crawl cost (973 executor-core-seconds in the chunks
    stage, mostly JVM-waiting-on-Python). Decoding the dim once and
    joining verdicts is the scale-correct shape (at 100 TB this dim would
    be written once as a stats table, like the robots dim). Column
    pruning keeps the scan at (image_id, bytes, caption, phash) —
    verified in test_explain_plans.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                decode_ok, phash_ok, phash_got = False, False, None
                data = rec.bytes
                if data is not None:
                    try:
                        px = codecs.decode_image(bytes(data))
                        phash_got = codecs.phash64(px)
                        decode_ok = True
                        phash_ok = (
                            rec.phash is not None and int(rec.phash) == phash_got
                        )
                    except Exception:
                        pass
                caption = rec.caption if isinstance(rec.caption, str) else ""
                title, desc, version, tpl = _caption_page_fields(caption)
                rows.append(
                    {
                        "image_id": rec.image_id,
                        "caption": rec.caption,
                        "decode_ok": decode_ok,
                        "phash_ok": phash_ok,
                        "phash_got": phash_got,
                        "page_title": title,
                        "description": desc,
                        "page_version": version,
                        "chunks_tpl": tpl,
                    }
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "image_id", "caption", "decode_ok", "phash_ok",
                    "phash_got", "page_title", "description", "page_version",
                    "chunks_tpl",
                ],
            )
            out["phash_got"] = pd.array(
                [r["phash_got"] for r in rows], dtype="Int64"
            )
            yield out

    return images.select("image_id", "bytes", "caption", "phash").mapInPandas(
        run,
        "image_id string, caption string, decode_ok boolean, "
        "phash_ok boolean, phash_got long, page_title string, "
        "description string, page_version string, "
        "chunks_tpl array<struct<chunk_content:string,chunk_heading:string,"
        "chunk_index:bigint>>",
    )


def extract_pages(
    fetched: DataFrame,
    images: DataFrame,
    skew_salt: int | None = None,
    image_stats: DataFrame | None = None,
) -> DataFrame:
    """fetched(request_id, seq, final_url, image_id, ...) ⋈ decoded-image
    stats -> one row per page with decode/phash verdicts and the packed
    chunks array.

    The image decode runs ONCE per distinct image (``image_decode_stats``;
    pass a cached ``image_stats`` to reuse it across rounds); only the
    per-fetch caption/url page extract runs per row here.

    Skew (north_rule): a hot image_id (a page fetched by many frontier rows)
    skews the shuffle. ``skew_salt=S`` applies the explicit salted
    replicate-join — the stats side is replicated S-fold with a salt
    column, the fetched side salts by ``xxhash64(seq) % S`` — spreading one
    hot key over S tasks. AQE's skew-join split (enabled in session.py) is
    the automatic backstop; the explicit form is for planned hot keys.
    Salting happens ONLY in this fan-out stage, never in token accounting
    (politeness counts stay per unsalted host).
    """
    img = image_stats if image_stats is not None else image_decode_stats(images)
    if skew_salt and skew_salt > 1:
        img = img.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(skew_salt)]))
        )
        fetched = fetched.withColumn(
            "__salt", F.pmod(F.xxhash64("seq"), F.lit(skew_salt)).cast("int")
        )
        joined = fetched.join(img, ["image_id", "__salt"], "left").drop("__salt")
    else:
        joined = fetched.join(img, "image_id", "left")
    stat_cols = (
        "caption", "decode_ok", "phash_ok", "phash_got",
        "page_title", "description", "page_version", "chunks_tpl",
    )
    carry_cols = [
        f.name for f in joined.schema.fields if f.name not in stat_cols
    ]
    # left-join miss (unknown image_id): identical to extracting an empty
    # caption — the same constants the old per-row path produced
    _t0, _d0, _v0, _tpl0 = _caption_page_fields("")
    assert not _tpl0  # empty caption packs no chunks
    title = F.coalesce(F.col("page_title"), F.lit(_t0))
    desc = F.coalesce(F.col("description"), F.lit(_d0))
    src = F.coalesce(F.col("final_url"), F.lit(""))
    version = F.col("page_version")
    chunks = F.when(
        F.col("chunks_tpl").isNotNull(),
        F.transform(
            F.col("chunks_tpl"),
            lambda c: F.struct(
                c["chunk_content"].alias("chunk_content"),
                c["chunk_heading"].alias("chunk_heading"),
                c["chunk_index"].alias("chunk_index"),
                title.alias("page_title"),
                desc.alias("description"),
                src.alias("source_url"),
                version.alias("page_version"),
                point_id_expr(src, version, c["chunk_index"]).alias("point_id"),
            ),
        ),
    ).otherwise(F.array().cast(ArrayType(CHUNK_STRUCT)))
    # pure column algebra from here on: the per-fetch stage ships nothing
    # to Python (the caption text pipeline ran once per image in the stats
    # dim; point_id is one sha1 per chunk in codegen) — the old per-row
    # mapInPandas re-extracted the same 5k captions 2.4M times per round
    return joined.select(
        *[F.col(c) for c in carry_cols],
        F.coalesce(F.col("decode_ok"), F.lit(False)).alias("decode_ok"),
        F.coalesce(F.col("phash_ok"), F.lit(False)).alias("phash_ok"),
        F.col("phash_got"),
        title.alias("page_title"),
        desc.alias("description"),
        chunks.alias("chunks"),
    )


@F.pandas_udf(ArrayType(FloatType()))
def deterministic_embedding(text: pd.Series) -> pd.Series:
    """S10 stand-in for the TEI e5 encoder: shake_256-expanded,
    unit-normalized EMBED_DIM vector. Deterministic (same text -> same
    vector) so the resume tests stay exact.

    This is the chunk sink's hot loop (2.4M rows/round at the bench
    scale), so it is minimized, measured at 40k rows/batch:
    - ONE shake_256 squeeze of EMBED_DIM bytes per row (0.18 s) replaces
      the 13-digest sha256 chain (0.43 s) — XOF output length is exactly
      the vector size, no chain, no slicing;
    - the per-row loop only hashes into one joined buffer; subtract and
      normalize run once per BATCH. The uint8 cast rides the subtract
      ufunc (`dtype=float32`, 22 ms) — a plain `.astype(float32)` from
      uint8 takes 700+ ms for the same batch on this numpy build (scalar
      cast loop), and it was being paid PER ROW before (~10 us/row);
    - row norms via einsum (7 ms) instead of np.linalg.norm (25 ms).
    Net: ~0.8 s -> ~0.24 s per 40k batch (3.4x) in the Arrow stage."""
    import pyarrow as pa

    texts = text.fillna("")
    if not len(texts):
        return pd.Series([], dtype=object)
    buf = b"".join(
        hashlib.shake_256(t.encode()).digest(EMBED_DIM) for t in texts
    )
    u8 = np.frombuffer(buf, dtype=np.uint8).reshape(len(texts), EMBED_DIM)
    arr = np.subtract(u8, np.float32(127.5), dtype=np.float32)
    norms = np.sqrt(np.einsum("ij,ij->i", arr, arr))[:, None]
    np.divide(arr, norms, out=arr, where=norms != 0.0)
    # Arrow-native return: one flat buffer + offsets instead of a Series of
    # 40k ndarray objects — pyarrow's from_pandas of the object form boxed
    # every element (measured ~12% of the whole chunk-sink stage)
    offsets = pa.array(
        np.arange(0, (len(texts) + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)
    )
    la = pa.ListArray.from_arrays(offsets, pa.array(arr.ravel(), type=pa.float32()))
    return pd.Series(la, dtype=pd.ArrowDtype(pa.list_(pa.float32())))


def explode_chunks(pages: DataFrame) -> DataFrame:
    """pages-with-chunks -> one row per chunk + embedding (sink shape)."""
    c = pages.select(
        "request_id", F.explode("chunks").alias("c")
    ).select("request_id", "c.*")
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("passage: "), F.col("page_title")),
        F.coalesce(F.col("chunk_heading"), F.lit("")),
        F.col("chunk_content"),
    )
    return c.withColumn("embedding", deterministic_embedding(text))
