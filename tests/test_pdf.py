"""PDF page source (north-rule 'PDF/layout parse' capability).

Writer+parser subset roundtrip, xref/trailer resolution, error taxonomy
mapping, and the #page=N media_ref addressing through _ocr_one.
"""

import numpy as np
import pytest

from ppocr_spark.config import PPOCRConfig
from ppocr_spark.pipeline import _ocr_one
from ppocr_spark.png import encode_gray
from ppocr_spark.render import render_page
from ppocr_spark.sources.pdf import (
    PdfError,
    decode_pdf_page,
    encode_pdf,
    is_pdf,
    pdf_page_count,
    split_page_ref,
)
from ppocr_spark.status import StatusCode


class TestContainer:
    def test_roundtrip_exact(self):
        rng = np.random.default_rng(7)
        pages = [
            rng.integers(0, 256, (37, 53), dtype=np.uint8),
            rng.integers(0, 256, (120, 80), dtype=np.uint8),
            np.full((16, 16), 200, dtype=np.uint8),
        ]
        blob = encode_pdf(pages)
        assert is_pdf(blob)
        assert pdf_page_count(blob) == 3
        for i, p in enumerate(pages):
            assert np.array_equal(decode_pdf_page(blob, i + 1), p)

    def test_deterministic_bytes(self):
        pages = [np.arange(64, dtype=np.uint8).reshape(8, 8)]
        assert encode_pdf(pages) == encode_pdf(pages)

    def test_page_out_of_range(self):
        blob = encode_pdf([np.zeros((8, 8), dtype=np.uint8)])
        with pytest.raises(PdfError):
            decode_pdf_page(blob, 2)
        with pytest.raises(PdfError):
            decode_pdf_page(blob, 0)

    def test_corrupt_rejected(self):
        with pytest.raises(PdfError):
            decode_pdf_page(b"%PDF-1.4 garbage", 1)
        with pytest.raises(PdfError):
            decode_pdf_page(b"\x89PNG not a pdf", 1)
        blob = encode_pdf([np.zeros((8, 8), dtype=np.uint8)])
        with pytest.raises(PdfError):
            decode_pdf_page(blob[: len(blob) // 2], 1)

    def test_empty_pages_rejected(self):
        with pytest.raises(PdfError):
            encode_pdf([])
        with pytest.raises(PdfError):
            encode_pdf([np.zeros((0, 8), dtype=np.uint8)])


class TestPageRef:
    def test_split(self):
        assert split_page_ref("doc.pdf#page=3") == ("doc.pdf", 3)
        assert split_page_ref("img_0001") == ("img_0001", None)
        assert split_page_ref("a#page=x") == ("a#page=x", None)
        assert split_page_ref("") == ("", None)


class TestOcrDispatch:
    def test_pdf_page_ocr(self):
        cfg = PPOCRConfig()
        img1, _ = render_page(["alpha beta gamma"])
        img2, _ = render_page(["delta epsilon"])
        blob = encode_pdf([img1, img2])
        r1 = _ocr_one(blob, cfg, page=1)
        r2 = _ocr_one(blob, cfg, page=2)
        assert r1["code"] == int(StatusCode.OK)
        assert r2["code"] == int(StatusCode.OK)
        assert r1["text"] != r2["text"]
        # default page = 1
        assert _ocr_one(blob, cfg)["text"] == r1["text"]

    def test_bad_page_maps_to_read_fail(self):
        cfg = PPOCRConfig()
        img, _ = render_page(["alpha beta"])
        blob = encode_pdf([img])
        assert _ocr_one(blob, cfg, page=5)["code"] == int(
            StatusCode.PATH_READ_FAIL
        )

    def test_page_ref_into_png_fails(self):
        cfg = PPOCRConfig()
        img, _ = render_page(["alpha beta"])
        png = encode_gray(img)
        assert _ocr_one(png, cfg, page=2)["code"] == int(
            StatusCode.PATH_READ_FAIL
        )
        assert _ocr_one(png, cfg, page=1)["code"] == int(StatusCode.OK)

    def test_corrupt_pdf_maps_to_read_fail(self):
        cfg = PPOCRConfig()
        assert _ocr_one(b"%PDF-1.4 junk", cfg, page=1)["code"] == int(
            StatusCode.PATH_READ_FAIL
        )

    def test_rec_off_returns_detected_boxes_without_text(self, monkeypatch):
        import ppocr_spark.operators.classify as classify
        import ppocr_spark.operators.recognize as recognize
        from ppocr_spark.operators.detect import detect

        img, _ = render_page(["alpha beta gamma", "delta epsilon"])
        png = encode_gray(img)

        def must_not_run(*args, **kwargs):
            raise AssertionError("cls/rec ran with rec=False")

        monkeypatch.setattr(classify, "classify", must_not_run)
        monkeypatch.setattr(recognize, "recognize_batch", must_not_run)
        cfg = PPOCRConfig(rec=False, cls=True, use_angle_cls=True)
        r = _ocr_one(png, cfg)
        quads = detect(img, cfg)
        n = len(quads)
        assert n >= 2
        # every detected box, in detection order; no K1 text filter
        assert r["code"] == int(StatusCode.OK)
        assert r["boxes"] == [
            [int(c) for p in q for c in p] for q in quads
        ]
        assert r["text"] == ""
        assert r["texts"] == [""] * n
        assert r["scores"] == [-1.0] * n
        assert r["cls_labels"] == [] and r["cls_scores"] == []
        assert set(r["stage_ms"]) == {"decode_ms", "det_ms"}
        # det off too: one whole-page box with the -1 sentinel corners
        r = _ocr_one(png, cfg.replace(det=False))
        assert (r["code"], r["boxes"]) == (int(StatusCode.OK), [[-1] * 8])
        # nothing detected is still NO_TEXT
        blank = encode_gray(np.full((64, 64), 255, dtype=np.uint8))
        assert _ocr_one(blank, cfg)["code"] == int(StatusCode.NO_TEXT)


class TestOcrUdf:
    """The OCR UDF on hand-built Arrow batches (no Spark)."""

    @staticmethod
    def _run(udf, rows):
        import pyarrow as pa

        req = pa.struct([("doc_id", pa.string()), ("offset", pa.int32()),
                         ("media_ref", pa.string()), ("page", pa.int32())])
        batch = pa.RecordBatch.from_pydict(
            {"reqs": [r for r, _ in rows], "content": [c for _, c in rows]},
            schema=pa.schema([("reqs", pa.list_(req)),
                              ("content", pa.binary())]),
        )
        out = [b.to_pylist() for b in udf(iter([batch]))]
        return [r for b in out for r in b]

    def test_rows_in_request_order_and_each_page_decoded_once(
        self, monkeypatch
    ):
        from collections import Counter

        import ppocr_spark.sources.pdf as pdf
        from ppocr_spark.pipeline import make_grouped_ocr_udf

        img1, _ = render_page(["alpha beta gamma"])
        img2, _ = render_page(["delta epsilon"])
        blob = encode_pdf([img1, img2])
        decoded = Counter()

        def counting_decode(data, page):
            decoded[page] += 1
            return decode_pdf_page(data, page)

        monkeypatch.setattr(pdf, "decode_pdf_page", counting_decode)
        reqs = [
            {"doc_id": "d", "offset": i, "media_ref": f"p.pdf#page={p}",
             "page": p}
            for i, p in enumerate([1, 2, 1, 9])
        ]
        missing = [{"doc_id": "e", "offset": 0, "media_ref": "gone",
                    "page": None}]
        out = self._run(make_grouped_ocr_udf(PPOCRConfig()),
                        [(reqs, blob), (missing, None)])
        assert [(r["doc_id"], r["offset"]) for r in out] == [
            ("d", 0), ("d", 1), ("d", 2), ("d", 3), ("e", 0)]
        assert [r["code"] for r in out] == [
            int(StatusCode.OK), int(StatusCode.OK), int(StatusCode.OK),
            int(StatusCode.PATH_READ_FAIL), int(StatusCode.PATH_NOT_EXIST)]
        assert out[0]["text"] == out[2]["text"] != out[1]["text"]
        assert decoded == {1: 1, 2: 1, 9: 1}

        b64 = self._run(
            make_grouped_ocr_udf(PPOCRConfig(), from_base64=True),
            [([{"doc_id": "b", "offset": 0, "media_ref": "x", "page": None}],
              b"junk bytes")],
        )
        assert [r["code"] for r in b64] == [int(StatusCode.BASE64_IMAGE_FAIL)]

    def test_each_distinct_page_ocrd_once(self, monkeypatch):
        """Requests for the same page of one payload share one OCR result:
        det runs once per distinct page, stage ms are added once per
        computed page, and ``ocr_spans`` still counts every request."""
        import time
        from collections import Counter

        import ppocr_spark.operators.detect as det
        from ppocr_spark.pipeline import STAGE_KEYS, make_grouped_ocr_udf

        img1, _ = render_page(["alpha beta gamma"])
        img2, _ = render_page(["delta epsilon"])
        blob = encode_pdf([img1, img2])
        detected = Counter()
        clock = [0.0]
        real_detect = det.detect

        def counting_detect(img, cfg):
            # the only step that moves the clock: each call reads 5 ms
            clock[0] += 0.005
            page = [np.array_equal(img, i) for i in (img1, img2)].index(True)
            detected[page + 1] += 1
            return real_detect(img, cfg)

        class Acc:  # the accumulator interface the UDF uses, no Spark
            def __init__(self):
                self.value = 0.0

            def add(self, v):
                self.value += v

        monkeypatch.setattr(det, "detect", counting_detect)
        monkeypatch.setattr(time, "perf_counter", lambda: clock[0])
        metrics = {k: Acc() for k in STAGE_KEYS}
        reqs = [
            {"doc_id": "d", "offset": i, "media_ref": f"p.pdf#page={p}",
             "page": p}
            for i, p in enumerate([1, 2, 1, 9])
        ]
        out = self._run(make_grouped_ocr_udf(PPOCRConfig(), metrics),
                        [(reqs, blob)])
        assert detected == {1: 1, 2: 1}
        assert [r["code"] for r in out] == [
            int(StatusCode.OK), int(StatusCode.OK), int(StatusCode.OK),
            int(StatusCode.PATH_READ_FAIL)]
        keys = ("code", "text", "boxes")
        assert [out[0][k] for k in keys] == [out[2][k] for k in keys]
        assert out[0]["text"] != out[1]["text"]
        assert metrics["ocr_spans"].value == 4
        assert metrics["det_ms"].value == pytest.approx(2 * 5.0)


class TestPropertyRoundtrip:
    def test_hypothesis_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from hypothesis.extra.numpy import arrays

        @settings(max_examples=25, deadline=None)
        @given(
            st.lists(
                arrays(
                    np.uint8,
                    st.tuples(
                        st.integers(1, 40), st.integers(1, 40)
                    ),
                ),
                min_size=1,
                max_size=4,
            )
        )
        def roundtrip(pages):
            blob = encode_pdf(pages)
            assert pdf_page_count(blob) == len(pages)
            for i, p in enumerate(pages):
                assert np.array_equal(decode_pdf_page(blob, i + 1), p)

        roundtrip()


class TestEndobjInStream:
    def test_object_at_skips_stream_payload(self):
        """A FlateDecode payload may contain the literal 'endobj'; the
        object scanner must skip /Length bytes before searching for the
        terminator instead of truncating the object."""
        from ppocr_spark.sources.pdf import _object_at

        payload = b"\x00\x01endobj\x02\x03trailing"
        body = (
            b"5 0 obj\n<< /Length %d >>\nstream\n" % len(payload)
            + payload
            + b"\nendstream\nendobj\n"
        )
        data = b"%PDF-1.4\n" + body + b"6 0 obj\n<< >>\nendobj\n"
        off = data.find(b"5 0 obj")
        got = _object_at(data, off, 5)
        assert payload in got  # full payload survives
        assert got.rstrip().endswith(b"endstream")

    def test_object_without_stream_unaffected(self):
        from ppocr_spark.sources.pdf import _object_at

        # object 7 has no stream; object 8 after it does — the scanner
        # must not skip into object 8's stream
        data = (
            b"%PDF-1.4\n7 0 obj\n<< /Type /Page >>\nendobj\n"
            b"8 0 obj\n<< /Length 4 >>\nstream\nabcd\nendstream\nendobj\n"
        )
        off = data.find(b"7 0 obj")
        got = _object_at(data, off, 7)
        assert b"/Type /Page" in got and b"stream" not in got
