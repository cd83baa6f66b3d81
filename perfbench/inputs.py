"""Seeded workload inputs and their goldens.

Inputs come from ``ppocr_spark.corpus`` with the corpus seed set to the
benchmark seed. Goldens come from generation truth only (the corpus'
``expected``/``expected_main`` rows and the media specs' expected text),
never from running the pipeline. When the generator drops a span or
re-points one to a fresh payload, the golden span is dropped or re-pointed
with it; offsets stay as authored.

Each workload fixes its amount of work (documents, media spans) so that
rates from different seeds compare: only which spans, pages and payloads
are used changes with the seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

#: bump on any change to what a workload generates, so cached inputs of an
#: older generator are never reused
GENERATOR_VERSION = 2

DOC_FILES = 8  # documents are staged as this many parquet files

# docs_mixed: the bench-corpus shape (ppocr_spark.corpus defaults, media
# pool n/3) cut to a fixed amount of work: MIXED_DOCS documents, one of
# them a skew-tail document capped at MIXED_TAIL_SPANS spans, and exactly
# MIXED_MEDIA media spans.
MIXED_DOCS = 120
MIXED_TAIL_SPANS = 60
MIXED_MEDIA = 230

# docs_text_heavy: text-heavy documents (the generator's authored-HTML
# share) with exactly TEXT_MEDIA media spans, each re-pointed to a payload
# of its own: TEXT_PDF of them to page 1 of a fresh PDF, the rest to a
# fresh image. About 100 media spans per 75k documents, as in a text
# crawl, so the kernels do little of the work.
TEXT_DOCS = 3_000
TEXT_MEDIA = 4
TEXT_PDF = 1
_TEXT_POOL = 8  # images the text corpus renders before re-pointing
_TEXT_PDF_POOL = 2  # PDFs it renders (corpus: max(2, pool // 4))

WORKLOADS = ("docs_mixed", "docs_text_heavy")


class Inputs:
    """A generated workload on disk plus its goldens in memory."""

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "golden.json")) as fh:
            g = json.load(fh)
        self.golden: dict[str, list[tuple]] = {
            d: [tuple(s) for s in spans] for d, spans in g["docs"].items()
        }
        self.info: dict = g["info"]

    @property
    def documents_path(self) -> str:
        return os.path.join(self.root, "documents")

    @property
    def media_path(self) -> str:
        return os.path.join(self.root, "media.parquet")


def corpus_config():
    from ppocr_spark.config import PPOCRConfig

    return PPOCRConfig(cls=True, use_angle_cls=True)


def ensure_inputs(cache_dir: str, workload: str, seed: int) -> tuple[Inputs, float]:
    """Generated inputs for (workload, seed), cached under ``cache_dir`` by
    (workload, seed, generator version) → (inputs, generation seconds;
    0.0 on a cache hit)."""
    out = os.path.join(
        cache_dir, "inputs", f"{workload}-s{seed}-g{GENERATOR_VERSION}"
    )
    if os.path.exists(os.path.join(out, "golden.json")):
        return Inputs(out), 0.0
    t0 = time.perf_counter()
    gen = _mixed if workload == "docs_mixed" else _text_heavy
    docs, media, golden = _with_corpus_seed(seed, gen)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write(tmp, docs, media, golden)
    os.replace(tmp, out)
    return Inputs(out), time.perf_counter() - t0


def _with_corpus_seed(seed: int, gen):
    """Run ``gen`` with the corpus module seeded by ``seed``. The corpus
    seeds every entity from its module-level SEED (fork-started pool
    workers inherit it), so setting it is what makes inputs per-seed."""
    from ppocr_spark import corpus

    seed = int(seed) % (2**31)
    saved = corpus.SEED
    corpus.SEED = seed
    try:
        return gen(np.random.default_rng([seed, GENERATOR_VERSION]))
    finally:
        corpus.SEED = saved


def _golden_span(e: dict) -> tuple:
    return (e["kind"], e["text"], e["media_ref"], e["order"], e["code"])


def _mixed(rng: np.random.Generator):
    from ppocr_spark import corpus

    # 2x the documents so the regular pool and the skew tail both have
    # enough to draw from; the media pool keeps the n/3 sharing of the
    # MIXED_DOCS-doc corpus
    n_gen = 2 * MIXED_DOCS
    docs, media_rows, expected, *_ = corpus.generate_corpus(
        n_gen, corpus_config(), media_pool_size=max(8, MIXED_DOCS // 3)
    )
    sizes = [len(d["spans"]) for d in docs]
    tail = [i for i in range(n_gen) if sizes[i] >= 50]
    # the tail document: a generated skew-tail doc when the seed has one,
    # else the largest document
    t = tail[0] if tail else int(np.argmax(sizes))
    regular = [i for i in range(n_gen) if i != t and sizes[i] < 50]
    chosen = sorted([t] + regular[: MIXED_DOCS - 1])

    keep: dict[int, list[int]] = {}
    for i in chosen:
        offs = list(range(sizes[i]))
        if i == t and len(offs) > MIXED_TAIL_SPANS:
            offs = sorted(
                rng.choice(offs, MIXED_TAIL_SPANS, replace=False).tolist()
            )
        keep[i] = offs
    def is_media(i, k):
        return docs[i]["spans"][k]["kind"] == "media"

    media_spans = [(i, k) for i in chosen for k in keep[i] if is_media(i, k)]
    # drop only from documents that keep a text span, so every chosen
    # document keeps at least one span
    droppable = [(i, k) for i, k in media_spans
                 if any(not is_media(i, j) for j in keep[i])]
    n_drop = len(media_spans) - MIXED_MEDIA
    if n_drop < 0 or n_drop > len(droppable):
        raise RuntimeError(
            f"docs_mixed: {len(media_spans)} media spans generated, "
            f"{len(droppable)} droppable; {MIXED_MEDIA} needed"
        )
    dropped = {droppable[j]
               for j in rng.choice(len(droppable), n_drop, replace=False)}

    out_docs, golden = [], {}
    for i in chosen:
        ks = [k for k in keep[i] if (i, k) not in dropped]
        d = docs[i]
        out_docs.append({"doc_id": d["doc_id"],
                         "spans": [d["spans"][k] for k in ks]})
        golden[d["doc_id"]] = [_golden_span(expected[i]["spans"][k])
                               for k in ks]
    media = [(m["media_ref"], m["content"]) for m in media_rows]
    return out_docs, media, golden


def _text_heavy(rng: np.random.Generator):
    from ppocr_spark import corpus

    # spare documents: a doc left without spans after the media drop is
    # removed (an empty document has no span to extract); about 4% are
    n_gen = TEXT_DOCS + TEXT_DOCS // 8
    docs, _media, _exp, _b, _m, expected_main = corpus.generate_corpus(
        n_gen, corpus_config(), media_pool_size=_TEXT_POOL, skew_tail=False
    )
    media_spans = [
        (i, k) for i, d in enumerate(docs[:TEXT_DOCS])
        for k, s in enumerate(d["spans"]) if s["kind"] == "media"
    ]
    kept_idx = sorted(
        rng.choice(len(media_spans), TEXT_MEDIA, replace=False).tolist()
    )
    kept = {media_spans[j]: n for n, j in enumerate(kept_idx)}
    # fresh payloads: pool entries past the ones the corpus rendered
    cfg = corpus_config()
    pdfs = corpus.build_pdf_pool(_TEXT_PDF_POOL + TEXT_PDF, cfg)
    images = corpus.build_media_pool(_TEXT_POOL + TEXT_MEDIA - TEXT_PDF, cfg)
    fresh = [
        (f"{p.base_ref}#page=1", p.pages[0][0], p.pages[0][1])
        for p in pdfs[_TEXT_PDF_POOL:]
    ] + [
        (m.media_ref, m.expected_text, m.expected_code)
        for m in images[_TEXT_POOL:]
    ]

    out_docs, golden = [], {}
    for i, d in enumerate(docs):
        spans, gold = [], []
        for k, s in enumerate(d["spans"]):
            e = expected_main[i]["spans"][k]
            if s["kind"] == "media":
                if (i, k) not in kept:
                    continue
                ref, text, code = fresh[kept[(i, k)]]
                s = {**s, "media_ref": ref}
                e = {**e, "media_ref": ref, "text": text, "code": code}
            spans.append(s)
            gold.append(_golden_span(e))
        if spans and len(out_docs) < TEXT_DOCS:
            out_docs.append({"doc_id": d["doc_id"], "spans": spans})
            golden[d["doc_id"]] = gold
    if len(out_docs) < TEXT_DOCS:
        raise RuntimeError(f"docs_text_heavy: only {len(out_docs)} documents")
    media = [(p.base_ref, p.content) for p in pdfs[_TEXT_PDF_POOL:]] + [
        (m.media_ref, m.content) for m in images[_TEXT_POOL:]
    ]
    return out_docs, media, golden


def _write(out: str, docs: list[dict], media: list[tuple], golden: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    os.makedirs(os.path.join(out, "documents"))
    step = -(-len(docs) // DOC_FILES)
    for p in range(DOC_FILES):
        part = docs[p * step:(p + 1) * step]
        pq.write_table(
            pa.table({
                "doc_id": pa.array([d["doc_id"] for d in part], pa.string()),
                "spans": pa.array([d["spans"] for d in part],
                                  pa.list_(span_t)),
            }),
            os.path.join(out, "documents", f"part-{p:03d}.parquet"),
        )
    pq.write_table(
        pa.table({
            "media_ref": pa.array([r for r, _ in media], pa.string()),
            "content": pa.array([c for _, c in media], pa.binary()),
        }),
        os.path.join(out, "media.parquet"),
    )
    spans = [s for g in golden.values() for s in g]
    refs = [s[2] for s in spans if s[0] == "media"]
    info = {
        "docs": len(golden),
        "spans": len(spans),
        "media_spans": len(refs),
        "text_spans": len(spans) - len(refs),
        "distinct_media_refs": len(set(refs)),
    }
    with open(os.path.join(out, "golden.json"), "w") as fh:
        json.dump({"info": info, "docs": golden}, fh)


def compare(golden: dict[str, list[tuple]], rows) -> dict:
    """Check output documents against the goldens.

    ``rows``: iterable of (doc_id, spans) with spans as
    (kind, text, media_ref, order, code) sequences. A golden document that
    is missing, duplicated or differs counts as failed. A difference only
    in the text or code of media spans is the recognition band (reported,
    counted as failed); anything else — a missing, extra, duplicated or
    reordered span, a wrong media_ref, or a text span that differs — is a
    structural error."""
    seen: dict[str, int] = {}
    failed = structural = 0
    mismatched: list[str] = []
    for doc_id, spans in rows:
        seen[doc_id] = seen.get(doc_id, 0) + 1
        want = golden.get(doc_id)
        got = [tuple(s) for s in spans]
        if want is None:
            structural += 1
            continue
        if seen[doc_id] > 1:
            structural += 1
            continue
        if got == want:
            continue
        failed += 1
        mismatched.append(doc_id)
        skeleton_ok = len(got) == len(want) and all(
            g[0] == w[0] and g[2] == w[2] and g[3] == w[3]
            and (g[0] == "media" or g == w)
            for g, w in zip(got, want)
        )
        if not skeleton_ok:
            structural += 1
    missing = [d for d in golden if d not in seen]
    failed += len(missing)
    structural += len(missing)
    return {
        "docs": len(golden),
        "failed": failed,
        "structural": structural,
        "missing": len(missing),
        "mismatched": mismatched,
        "failed_ids": mismatched + missing,
    }
