"""Seeded workload generator and its expected extraction output.

A workload is a table of interleaved documents ``(doc_id, spans)`` plus
the page store ``(media_ref, image)`` the media spans point to. Both are
built from the seed alone; the extraction program only ever sees the
parquet files written from them.

The expectation is derived from what this module generated, never from
the program's own OCR or strip functions:

* a text span keeps the text this generator wrote;
* a media span's text is ``imaging.render.truth_text(n)`` when the page
  exists and decodes, ``''`` when it is dangling (``is_dangling``: no
  page row) or corrupt (a page row whose bytes are no image);
* ``ocr_pages`` counts media spans whose page decoded,
  ``ocr_empty_pages`` those among them whose page is blank, and
  ``status`` is ``partial`` when any media span is dangling or corrupt.

The same seed gives the same bytes (see :func:`digest`); another seed
moves ref placement, span counts and hot-document ids.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from tesseract_glue_spark.imaging import render

REF_SPACE = 10_000_000       # media ids are drawn from [1, REF_SPACE)
CORRUPT_FRAC = 0.005         # share of present, non-blank pages stored as junk bytes
EMPTY_DOC_FRAC = 0.002       # share of documents with no spans at all
VOCAB = 800                  # words per seeded vocabulary


@dataclass(frozen=True)
class Shape:
    """Corpus shape of one workload.

    ``media_per_doc`` > 0 gives the interleaved layout
    ``text, media, text, ..., media, text`` with every media span on its
    own page. ``media_per_doc`` == 0 gives the skewed layout: span
    counts drawn around ``mean_spans``, media spans (share ``media_frac``)
    drawn from a pool of ``pool`` pages, and ``hot_docs`` documents with
    ``hot_spans`` spans each."""

    n_docs: int
    media_per_doc: int = 0
    mean_spans: int = 0
    media_frac: float = 0.0
    pool: int = 0
    hot_docs: int = 0
    hot_spans: int = 0
    salt: int = 0


# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS: dict[str, Shape] = {
    "ocr_distinct": Shape(n_docs=1000, media_per_doc=4),
    "span_skew": Shape(
        n_docs=12000, mean_spans=20, media_frac=0.3, pool=1000,
        hot_docs=8, hot_spans=6000, salt=8,
    ),
}

# Web chrome for the HTML-strip timing (layers.strip_timings). Only the
# <h1> is main content: the head is invisible and nav/footer are
# semantic chrome, so the stripped text is exactly the wrapped text.
HTML_PREFIX = (
    "<html><head><title>page</title><style>p{margin:0}</style>"
    "<script>var t = 0;</script></head><body>"
    '<nav><a href="/">home</a> <a href="/news">news</a> <a href="/faq">faq</a></nav>'
    "<article><h1>"
)
HTML_SUFFIX = (
    "</h1></article>"
    '<footer><a href="/legal">legal</a> <a href="/jobs">jobs</a></footer>'
    "</body></html>"
)

_ONSETS = "b c d f g h k l m n p r s t v w z br tr st pl gr".split()
_NUCLEI = "a e i o u ai ea ou".split()


@dataclass
class Corpus:
    """One generated workload: inputs for the program plus the expectation."""

    shape: Shape
    docs: pa.Table          # doc_id int64, spans list<struct<kind,text,media_ref,offset:int32>>
    page_nums: np.ndarray   # media ids with a page row (dangling ids excluded)
    corrupt: frozenset      # media ids whose page row holds junk bytes
    expected: pa.Table      # doc_id, spans, ocr_pages, ocr_empty_pages, status; sorted by doc_id

    @property
    def n_docs(self) -> int:
        return self.docs.num_rows

    def text_samples(self, k: int) -> list[str]:
        """The first ``k`` text-span payloads of the document table."""
        flat = self.docs.column("spans").combine_chunks().flatten()
        texts = flat.field("text").to_numpy(zero_copy_only=False)
        kinds = flat.field("kind").to_numpy(zero_copy_only=False)
        return list(texts[kinds == "text"][:k])


def _texts(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` seeded texts of 3-12 words from a seeded vocabulary:
    lowercase, single-spaced, no HTML metacharacters (so wrapping needs
    no escaping) and almost never repeated."""
    vocab = []
    for _ in range(VOCAB):
        vocab.append(
            "".join(
                _ONSETS[int(rng.integers(len(_ONSETS)))] + _NUCLEI[int(rng.integers(len(_NUCLEI)))]
                for _ in range(int(rng.integers(1, 4)))
            )
        )
    n_words = rng.integers(3, 13, size=n)
    words = pa.array(vocab).take(pa.array(rng.integers(VOCAB, size=int(n_words.sum()))))
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_words)]).astype(np.int32))
    joined = pc.binary_join(pa.ListArray.from_arrays(offsets, words), " ")
    return joined.to_numpy(zero_copy_only=False)


def _span_counts(shape: Shape, rng: np.random.Generator) -> np.ndarray:
    """Per-document span counts (hot docs and empty docs included).

    Skewed counts are drawn geometric around ``mean_spans`` and then
    nudged one span at a time so every seed has the same total, which
    keeps per-document output size comparable across seeds."""
    if shape.media_per_doc:
        counts = np.full(shape.n_docs, 2 * shape.media_per_doc + 1, dtype=np.int64)
        hot = np.empty(0, dtype=np.int64)
    else:
        counts = 1 + rng.geometric(1.0 / shape.mean_spans, size=shape.n_docs).astype(np.int64)
        hot = rng.choice(shape.n_docs, size=shape.hot_docs, replace=False)
        counts[hot] = 0
        cold = np.setdiff1d(np.arange(shape.n_docs), hot)
        diff = (shape.n_docs - shape.hot_docs) * (1 + shape.mean_spans) - int(counts.sum())
        while diff:
            pick = rng.choice(cold, size=min(abs(diff), len(cold)), replace=False)
            step = 1 if diff > 0 else -1
            pick = pick[counts[pick] + step >= 1]
            counts[pick] += step
            diff -= step * len(pick)
        counts[hot] = shape.hot_spans
    empty = rng.random(shape.n_docs) < EMPTY_DOC_FRAC
    empty[hot] = False
    counts[empty] = 0
    return counts


def generate(workload: str, seed: int) -> Corpus:
    """Build the corpus and its expectation for ``workload`` from ``seed``."""
    shape = WORKLOADS[workload]
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    doc_ids = np.sort(rng.choice(1 << 40, size=shape.n_docs, replace=False)).astype(np.int64)
    counts = _span_counts(shape, rng)
    total = int(counts.sum())
    starts = np.concatenate([[0], np.cumsum(counts)])
    offsets = np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], counts)

    if shape.media_per_doc:
        is_media = offsets % 2 == 1
        media_num = np.zeros(total, dtype=np.int64)
        media_num[is_media] = 1 + rng.choice(REF_SPACE - 1, size=int(is_media.sum()), replace=False)
    else:
        is_media = rng.random(total) < shape.media_frac
        pool = 1 + rng.choice(REF_SPACE - 1, size=shape.pool, replace=False)
        media_num = np.where(is_media, pool[rng.integers(shape.pool, size=total)], 0)

    referenced = np.unique(media_num[is_media])
    page_nums = np.array([n for n in referenced if not render.is_dangling(int(n))], dtype=np.int64)
    candidates = [int(n) for n in page_nums if not render.is_blank(int(n))]
    n_corrupt = int(round(CORRUPT_FRAC * len(candidates)))
    corrupt = frozenset(int(n) for n in rng.choice(candidates, size=n_corrupt, replace=False)) if n_corrupt else frozenset()

    uniq, inv = np.unique(media_num, return_inverse=True)
    refs = np.array([render.num_to_ref(int(n)) for n in uniq], dtype=object)[inv]
    docs = _docs_table(
        doc_ids,
        starts,
        np.where(is_media, "media", "text").astype(object),
        np.where(is_media, "", _texts(rng, total)).astype(object),
        np.where(is_media, refs, "").astype(object),
        offsets,
    )
    expected = expectation(docs, corrupt)
    # the program reads rows in whatever order the table holds them
    order = rng.permutation(shape.n_docs)
    return Corpus(shape, docs.take(order), page_nums, corrupt, expected)


def expectation(docs: pa.Table, corrupt: frozenset) -> pa.Table:
    """Expected extraction output of ``docs`` (sorted by doc_id) when the
    page store holds every non-dangling referenced page, with the pages
    in ``corrupt`` stored as junk bytes."""
    spans = docs.column("spans").combine_chunks()
    counts = pc.fill_null(pc.list_value_length(spans), 0).to_numpy().astype(np.int64)
    flat = spans.flatten()
    is_media = (flat.field("kind").to_numpy(zero_copy_only=False) == "media")
    encoded = pc.dictionary_encode(flat.field("media_ref"))
    inv = encoded.indices.to_numpy()
    nums = [render.ref_to_num(r) if r else 0 for r in encoded.dictionary.to_pylist()]
    ok_page = np.array([not render.is_dangling(n) and n not in corrupt for n in nums], dtype=bool)
    blank_page = np.array([render.is_blank(n) for n in nums], dtype=bool)
    page_text = np.array([render.truth_text(n) if ok else "" for n, ok in zip(nums, ok_page)], dtype=object)

    span_ok = is_media & ok_page[inv]
    span_err = is_media & ~ok_page[inv]
    span_empty = span_ok & blank_page[inv]
    text = np.where(is_media, page_text[inv], flat.field("text").to_numpy(zero_copy_only=False))
    starts = np.concatenate([[0], np.cumsum(counts)])
    out = _docs_table(
        docs.column("doc_id").to_numpy(),
        starts,
        flat.field("kind").to_numpy(zero_copy_only=False),
        text,
        flat.field("media_ref").to_numpy(zero_copy_only=False),
        flat.field("offset").to_numpy(),
    )
    doc_of_span = np.repeat(np.arange(len(counts)), counts)

    def per_doc(mask: np.ndarray) -> np.ndarray:
        return np.bincount(doc_of_span, weights=mask, minlength=len(counts)).astype(np.int32)

    return (
        out.append_column("ocr_pages", pa.array(per_doc(span_ok)))
        .append_column("ocr_empty_pages", pa.array(per_doc(span_empty)))
        .append_column(
            "status",
            pa.array(np.where(per_doc(span_err) > 0, "partial", "ok").astype(object), pa.string()),
        )
    )


def _docs_table(doc_ids, starts, kind, text, ref, offsets) -> pa.Table:
    struct = pa.StructArray.from_arrays(
        [
            pa.array(kind, pa.string()),
            pa.array(text, pa.string()),
            pa.array(ref, pa.string()),
            pa.array(offsets.astype(np.int32), pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(pa.array(starts.astype(np.int32), pa.int32()), struct)
    return pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "spans": spans})


def page_bytes(n: int, corrupt: bool) -> bytes:
    """Stored bytes of page ``n``: the rendered PNG, or junk that no
    codec recognizes when the page is one of the corrupt ones."""
    if corrupt:
        return b"JUNK" + n.to_bytes(8, "big") * 4
    return render.render_page(n)[0]


def render_pages(nums, corrupt: frozenset) -> pa.Table:
    """In-process page store for ``nums`` (used for small stores and tests)."""
    nums = [int(n) for n in nums]
    return pa.table(
        {
            "media_ref": pa.array([render.num_to_ref(n) for n in nums], pa.string()),
            "image": pa.array([page_bytes(n, n in corrupt) for n in nums], pa.binary()),
        }
    )


def digest(corpus: Corpus, pages: pa.Table | None = None) -> str:
    """SHA-256 over the document table, the page-id set, the corrupt set
    and, when given, the page store's bytes in media_ref order."""
    h = hashlib.sha256()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, corpus.docs.schema) as w:
        w.write_table(corpus.docs.combine_chunks())
    h.update(sink.getvalue().to_pybytes())
    h.update(np.asarray(corpus.page_nums, dtype=np.int64).tobytes())
    h.update(np.array(sorted(corpus.corrupt), dtype=np.int64).tobytes())
    if pages is not None:
        pages = pages.sort_by("media_ref")
        for ref, img in zip(pages.column("media_ref").to_pylist(), pages.column("image").to_pylist()):
            h.update(ref.encode())
            h.update(img)
    return h.hexdigest()
