"""Span recorder and the traced run's layer measurements.

Spans are recorded by the benchmark around its own calls into the
program's public functions: name, start, end, parent and a trace id (one
per pass or per measurement). They stay in memory and are written as JSON
lines at exit, each with its self time: its duration minus the part of it
that its child spans cover.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        """Record a span; yields a dict for counts taken at the boundary."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else name),
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s["id"], "name": s["name"], "parent": s["parent"],
                    "trace": s["trace"],
                    "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                    "dur_s": s["end"] - s["start"], "self_s": selfs[s["id"]],
                    "counts": s["counts"],
                }) + "\n")


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def kernel_replay(tracer: Tracer, golden: dict, payloads: dict, cfg) -> dict:
    """Send each distinct (payload, page) request of the workload once
    through the public kernel functions, single-threaded, in the order the
    OCR UDF runs them → per-layer metrics (ms per span, p50/p90).

    Requests are first sent untraced until one has reached every kernel:
    the first call in a process loads the models (about 0.6 s in
    classify), which the workers pay in their warm-up and the replay must
    not count."""
    refs = sorted({s[2] for spans in golden.values() for s in spans
                   if s[0] == "media"})
    # a missing payload never reaches the kernels
    requests = [(ref, payloads[ref.partition("#page=")[0]]) for ref in refs
                if ref.partition("#page=")[0] in payloads]
    for ref, data in requests:
        r = _replay_one(Tracer(False), ref, data, cfg)
        if r is not None and r[1]:
            break
    pixels, boxes, rotated, kept = [], 0, 0, 0
    for ref, data in requests:
        r = _replay_one(tracer, ref, data, cfg)
        if r is None:
            continue
        pixels.append(r[0])
        boxes += r[1]
        rotated += r[2]
        kept += r[3]

    out = {}
    for name, key in (("decode.png", "decode.png_ms"),
                      ("decode.pdf_page", "decode.pdf_page_ms"),
                      ("detect", "detect.ms"), ("crop", "crop.ms"),
                      ("classify", "classify.ms"),
                      ("recognize", "recognize.ms"), ("layout", "layout.ms")):
        ms = [d * 1e3 for d in tracer.durations(name)]
        if ms:
            out[f"{key}.p50"] = quantile(ms, 0.5)
            out[f"{key}.p90"] = quantile(ms, 0.9)
    out["decode.png_samples"] = len(tracer.durations("decode.png"))
    out["decode.pdf_page_samples"] = len(tracer.durations("decode.pdf_page"))
    req = tracer.durations("kernel.request")
    out["kernel.samples"] = len(req)
    if req:
        out["kernel.ms_per_span"] = statistics.fmean(req) * 1e3
    if pixels:
        out["decode.pixels_per_span"] = statistics.fmean(pixels)
        out["detect.boxes_per_span"] = boxes / len(pixels)
    if boxes:
        out["classify.rotated_ratio"] = rotated / boxes
        out["recognize.kept_ratio"] = kept / boxes
    return out


def _replay_one(tracer: Tracer, ref: str, data: bytes, cfg):
    """One request through the kernels → (pixels, boxes, rotated, kept);
    None when it yields no image."""
    from ppocr_spark.geometry import perspective_crop
    from ppocr_spark.operators.classify import classify, maybe_rotate
    from ppocr_spark.operators.detect import detect
    from ppocr_spark.operators.layout import assemble_text, run_parser
    from ppocr_spark.operators.recognize import recognize_batch
    from ppocr_spark.png import PngError, decode, to_gray
    from ppocr_spark.sources.pdf import PdfError, decode_pdf_page, is_pdf

    page = ref.partition("#page=")[2]
    with tracer.span("kernel.request", trace=f"kernel:{ref}") as counts:
        if is_pdf(data):
            with tracer.span("decode.pdf_page"):
                try:
                    img = decode_pdf_page(data, int(page or 1))
                except PdfError:
                    return None
        else:
            with tracer.span("decode.png"):
                try:
                    img = to_gray(decode(data))
                except PngError:
                    return None
        if img.size == 0:
            return None
        counts["pixels"] = int(img.size)
        with tracer.span("detect"):
            quads = detect(img, cfg)
        if not quads:
            return int(img.size), 0, 0, 0
        counts["boxes"] = len(quads)
        with tracer.span("crop"):
            crops = [perspective_crop(img, q) for q in quads]
        rotated = 0
        with tracer.span("classify"):
            out = []
            for c in crops:
                label, score = classify(c)
                r = maybe_rotate(c, label, score, cfg.cls_thresh)
                rotated += r is not c
                out.append(r)
            crops = out
        with tracer.span("recognize"):
            rec = recognize_batch(crops, img_h=cfg.rec_img_h,
                                  batch_num=cfg.rec_batch_num,
                                  lang=cfg.rec_lang)
        blocks = [
            {"box": [[int(x), int(y)] for x, y in q], "text": t,
             "score": float(s)}
            for q, (t, s) in zip(quads, rec) if t and s > 0
        ]
        counts["kept"] = len(blocks)
        if blocks:
            with tracer.span("layout"):
                assemble_text(run_parser(cfg.parser, blocks))
    return int(img.size), len(quads), rotated, len(blocks)
